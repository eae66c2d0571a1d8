package graftbench

import java.io.{File, RandomAccessFile}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.operators.Deser
import graft.source.{EpochLedger, Message, OffsetStore, TopicLog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** One connector lane: trigger, message size, retained history and the
  * open-loop rate ladder. */
final case class LaneConfig(
    continuous: Boolean,
    textBytes: Int,
    historyPerQueue: Int,
    warmupRate: Double,
    warmupSec: Double,
    rates: Seq[Double],
    limitMs: Double,
    backlog: Int,
    drains: Int)

/**
 * The shared connector pipeline, driven open loop:
 *
 *   generator thread --TopicLog.append--> input topic (one queue per slot)
 *     --graft-mq source (tag selector)--> Deser.parseBodies(PAD) --> filter
 *     --> projection --> graft-mq sink (EpochLedger, exactly once)
 *   monitor thread <--EpochLedger.read + byte-position tail-- output topic
 *
 * The generator stamps each message with the time it is DUE, so a stall
 * anywhere shows as latency of every message queued behind it. The monitor
 * sees a message when the ledger's committed mark covers its line.
 */
final class Lane(spark: SparkSession, cfg: LaneConfig, seed: Long, work: File,
    tracer: Tracer, progress: Option[ProgressLog]) {
  import Lane._

  private val root = new File(work, "mq").getAbsolutePath
  private val queues = spark.sparkContext.defaultParallelism
  private val corpus = new Corpus(seed, cfg.textBytes)
  private val checkpoint = new File(work, "checkpoint").getAbsolutePath

  // message ids are dense from 0; every message's due time, first-seen time
  // and how late the generator appended it live in flat arrays (-1 = not yet)
  @volatile private var due = new Array[Long](0)
  @volatile private var seen = new Array[Long](0)
  @volatile private var late = new Array[Long](0)

  // ---------------- generator ----------------

  /** Messages `[from, until)` with their due times, appended by one thread on
    * a 10 ms tick: each tick appends every message now due, so the schedule
    * holds however slowly the consumer runs. */
  private final class Generator(from: Int, until: Int) extends Thread("bench-generator") {
    setDaemon(true)
    val appendMs = mutable.ArrayBuffer[Double]()
    @volatile var stopFlag = false
    override def run(): Unit = {
      var next = from
      while (next < until && !stopFlag) {
        val now = System.currentTimeMillis()
        var end = next
        while (end < until && due(end) <= now) end += 1
        if (end > next) {
          val t0 = System.nanoTime()
          appendRange(next, end)
          appendMs += (System.nanoTime() - t0) / 1e6
          val done = System.currentTimeMillis()
          var i = next
          while (i < end) { late(i) = done - due(i); i += 1 }
          next = end
        }
        Thread.sleep(10)
      }
    }
  }

  private def appendRange(from: Int, until: Int): Unit = {
    val byQueue = (from until until).groupBy(_ % queues)
    byQueue.toSeq.sortBy(_._1).foreach { case (q, ids) =>
      TopicLog.append(root, InTopic, q, ids.iterator.map { i =>
        Message(due(i), i.toString, corpus.tag(i), Map.empty, corpus.body(i, due(i)))
      })
    }
  }

  // ---------------- monitor ----------------

  /** Tails each output queue by byte position up to its committed mark.
    * Never reads a range from offset 0: that cost would grow with the log
    * and be measured as latency. Also samples consumer lag every 250 ms. */
  private final class Monitor extends Thread("bench-monitor") {
    setDaemon(true)
    @volatile var stopFlag = false
    private val pos = Array.fill(queues)(0L)
    private val marksSeen = Array.fill(queues)(mutable.TreeSet[Long](0L))
    val epochs = mutable.ArrayBuffer[(Long, Long, Long)]() // (epoch, seenAtMs, total lines)
    val lag = mutable.ArrayBuffer[(Long, Long)]()          // (atMs, messages)
    @volatile var markPastEof = 0L
    @volatile var markRegress = 0L
    @volatile var tornLines = 0L
    private var lastLagMs = 0L

    override def run(): Unit = {
      val buf = new Array[Byte](1 << 20)
      while (!stopFlag) {
        poll(buf)
        val now = System.currentTimeMillis()
        if (now - lastLagMs >= 250) {
          lastLagMs = now
          if (OffsetStore.committedOffsets(root, InTopic, Group).nonEmpty) {
            val l = OffsetStore.consumerLag(root, InTopic, Group).values.sum
            lag.synchronized { lag += ((now, l)) }
          }
        }
        Thread.sleep(5)
      }
      poll(buf)
    }

    private def poll(buf: Array[Byte]): Unit = {
      val st = try EpochLedger.read(root, OutTopic) catch { case _: Exception => None }
      st.foreach { s =>
        if (epochs.isEmpty || epochs.last._1 != s.maxEpoch) epochs.synchronized {
          epochs += ((s.maxEpoch, System.currentTimeMillis(), s.queues.values.map(_._1).sum))
        }
        for (q <- 0 until queues) {
          val mark = s.committed(q)._2
          val f = TopicLog.queueFile(root, OutTopic, q)
          val len = f.length()
          if (mark > len) markPastEof += 1
          if (mark < pos(q)) {
            // a published mark moved backwards: resume at the last mark seen
            // at or below it, which is a line boundary of committed data
            markRegress += 1
            pos(q) = marksSeen(q).rangeTo(mark).lastOption.getOrElse(0L)
          }
          val upto = math.min(mark, len)
          if (upto > pos(q)) tail(q, f, upto, buf)
          marksSeen(q) += mark
        }
      }
    }

    private def tail(q: Int, f: File, upto: Long, buf: Array[Byte]): Unit = {
      val raf = new RandomAccessFile(f, "r")
      try {
        var p = pos(q)
        raf.seek(p)
        var carry = Array.emptyByteArray
        while (p < upto) {
          val n = raf.read(buf, 0, math.min(buf.length.toLong, upto - p).toInt)
          if (n <= 0) return
          val now = System.currentTimeMillis()
          val chunk = if (carry.isEmpty) buf.take(n) else carry ++ buf.take(n)
          var start = 0
          var i = 0
          while (i < chunk.length) {
            if (chunk(i) == '\n') {
              markSeen(chunk, start, i, now)
              start = i + 1
            }
            i += 1
          }
          carry = chunk.drop(start)
          p += n
        }
        pos(q) = p - carry.length
      } finally raf.close()
    }

    /** The key field (second, tab-separated) of a sink line is the id. */
    private def markSeen(b: Array[Byte], from: Int, until: Int, now: Long): Unit = {
      var i = from
      while (i < until && b(i) != '\t') i += 1
      var id = 0L
      var j = i + 1
      var digits = 0
      while (j < until && b(j) != '\t') {
        val c = b(j)
        if (c < '0' || c > '9') { tornLines += 1; return }
        id = id * 10 + (c - '0'); j += 1; digits += 1
      }
      if (digits == 0 || id >= seen.length) { tornLines += 1; return }
      if (seen(id.toInt) < 0) seen(id.toInt) = now
    }
  }

  // ---------------- query ----------------

  private def startQuery(): StreamingQuery = {
    val src = spark.readStream.format("graft-mq")
      .option("topic", InTopic).option("consumerGroup", Group)
      .option("rootDir", root).option("tag", Corpus.TagSelector)
      .option("offsetResetTo", "latest")
      .option("continuousPollMs", "20")
      .load()
    val parsed = Deser.parseBodies(src, "body", BodySchema, lengthCheck = "PAD")
    val out = parsed.filter(col("amount") >= 100).select(
      timestamp_millis(col("stamp")).as("born_ts"),
      col("id").cast("string").as("msg_key"),
      concat_ws(graft.serde.Delimiters.Soh, col("id").cast("string"), col("kind"),
        col("score").cast("string"), col("amount").cast("string"), col("region"),
        col("text")).as("body"))
    val w = out.writeStream.format("graft-mq")
      .option("topic", OutTopic).option("consumerGroup", "bench-sink")
      .option("rootDir", root)
      .option("checkpointLocation", checkpoint)
    val trig = if (cfg.continuous) Trigger.Continuous("100 milliseconds") else Trigger.ProcessingTime(0L)
    w.trigger(trig).start()
  }

  /** Waits until the query has resolved its start offsets: the consumer
    * group has committed a position (continuous) or a batch has run. */
  private def awaitJoined(q: StreamingQuery, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
        OffsetStore.committedOffsets(root, InTopic, Group).isEmpty &&
        q.lastProgress == null) {
      if (q.exception.isDefined) throw q.exception.get
      Thread.sleep(20)
    }
  }

  // ---------------- run ----------------

  def run(seconds: Double): Result = {
    val summary = mutable.ArrayBuffer[String]()
    graft.util.Fs.deleteRecursively(new File(root).toPath)
    graft.util.Fs.deleteRecursively(new File(checkpoint).toPath)

    // schedule: warm-up, then the ladder; the middle rate carries the
    // end-to-end latency, so it is measured longest, and the top rate runs
    // long enough for a growing lag to show
    val ladderSec = {
      val w = Seq(2.0, 4.0, 2.0).take(cfg.rates.size)
      w.map(_ * seconds / math.max(1.0, w.sum))
    }
    val phases = (cfg.warmupRate, cfg.warmupSec) +: cfg.rates.zip(ladderSec)
    val counts = phases.map { case (r, s) => math.round(r * s).toInt }
    val bounds = counts.scanLeft(0)(_ + _) // phase p = ids [bounds(p), bounds(p+1))
    val liveTotal = bounds.last
    // ids: live (warm-up, ladder), then each drain's backlog, then the
    // warm-up burst, appended first
    val burstIds = (liveTotal + cfg.drains * cfg.backlog) until
      (liveTotal + (cfg.drains + 1) * cfg.backlog)
    val total = burstIds.end
    due = Array.fill(total)(Long.MaxValue)
    seen = Array.fill(total)(-1L)
    late = Array.fill(total)(-1L)

    tracer.span("lane.history_fill") {
      val hist = new Corpus(seed ^ 0x5EED, cfg.textBytes)
      val base = System.currentTimeMillis() - 86400000L
      for (q <- 0 until queues)
        TopicLog.append(root, InTopic, q, Iterator.range(0, cfg.historyPerQueue).map { k =>
          val born = base + k / 10
          Message(born, s"h$k", Corpus.Tags(k & 3), Map.empty, hist.body(-1L - k % 4096, born))
        })
    }

    val monitor = new Monitor
    monitor.start()
    var query = tracer.span("lane.query_start")(startQuery())
    tracer.span("lane.join")(awaitJoined(query, 60000))
    // warm-up burst: one backlog's worth through the running query, so the
    // JIT has compiled the read/parse/sink path before anything is timed
    tracer.span("lane.warmup_burst") {
      val now = System.currentTimeMillis()
      burstIds.foreach(i => due(i) = now)
      appendRange(burstIds.start, burstIds.end)
      awaitDelivered(burstIds, query, 40000)
    }

    // lay out due times: phases back to back from a start just ahead of now
    val start = System.currentTimeMillis() + 100
    var phaseStart = start.toDouble
    val phaseStartMs = mutable.ArrayBuffer[Long]()
    for (p <- phases.indices) {
      val (rate, secs) = phases(p)
      phaseStartMs += phaseStart.toLong
      for (k <- 0 until counts(p)) due(bounds(p) + k) = (phaseStart + k * 1000.0 / rate).toLong
      phaseStart += secs * 1000.0
    }
    val ladderEndMs = phaseStart.toLong
    val gen = new Generator(0, liveTotal)
    gen.start()
    val firstTimedMs = phaseStartMs.lift(1).getOrElse(ladderEndMs)
    tracer.span("lane.warmup")(sleepUntil(firstTimedMs))
    tracer.span("lane.ladder")(sleepUntil(ladderEndMs))
    gen.join()
    val ladderIds = bounds(1) until liveTotal
    tracer.span("lane.catch_up")(awaitDelivered(ladderIds, query, 20000))

    // drains: stop, append a backlog, restart from the checkpoint; repeated,
    // and the median reported
    val drainSecs = (0 until cfg.drains).map { d =>
      val ids = (liveTotal + d * cfg.backlog) until (liveTotal + (d + 1) * cfg.backlog)
      tracer.span("lane.drain", s"drain$d") {
        stopIdle(query)
        val now = System.currentTimeMillis()
        ids.foreach(i => due(i) = now)
        appendRange(ids.start, ids.end)
        val restart = System.currentTimeMillis()
        query = startQuery()
        awaitDelivered(ids, query, 40000)
        // drained = the last backlog message became visible (the audit
        // counts any that never did)
        val waited = System.currentTimeMillis()
        val lastMsg = ids.filter(i => corpus.kept(i) && seen(i) >= 0).map(seen(_)).maxOption
        (lastMsg.getOrElse(waited) - restart) / 1000.0
      }
    }
    stopIdle(query)
    monitor.stopFlag = true
    monitor.join()

    // ---------------- audit ----------------
    val audit = tracer.span("lane.audit")(Lane.audit(root, queues, corpus, bounds(1), total, due))
    summary += s"audit offered=${audit.offered} kept=${audit.kept} lost=${audit.lost} " +
      s"dup=${audit.duplicated} corrupt=${audit.corrupted} misparsed=${audit.misparsed} " +
      s"torn_lines_seen=${monitor.tornLines} mark_past_eof=${monitor.markPastEof} " +
      s"mark_regress=${monitor.markRegress}"
    audit.badSamples.foreach(b => summary += s"audit bad line: $b")

    // ---------------- metrics ----------------
    val e2e = new Report
    val layers = new Report
    // latency and the sustained rate are over DELIVERED messages; a lost
    // message is a failed operation (counted by the audit), since a lane
    // whose sink loses messages at every rate would otherwise have no
    // finite p99 and no sustainable rate at all
    val ladderStats = cfg.rates.indices.map { k =>
      val p = k + 1
      val ids = (bounds(p) until bounds(p + 1)).filter(i => corpus.kept(i.toLong))
      val lats = ids.filter(i => seen(i) >= 0 && audit.delivered(i)).map(i => (seen(i) - due(i)).toDouble)
      val lost = ids.size - lats.size
      val lagPts = monitor.lag.synchronized(monitor.lag.toVector)
        .filter { case (t, _) =>
          // the first half second of a phase still carries the step from the
          // previous rate
          t >= phaseStartMs(p) + 500 && t < phaseStartMs(p) + (ladderSec(k) * 1000).toLong }
        .map { case (t, l) => (t / 1000.0, l.toDouble) }
      val slope = Stats.slope(lagPts)
      val p50 = if (lats.isEmpty) Double.NaN else Stats.pct(lats, 50)
      val p99 = if (lats.isEmpty) Double.PositiveInfinity else Stats.pct(lats, 99)
      val ok = p99 <= cfg.limitMs && slope <= LagGrowth * cfg.rates(k)
      val genLate = Stats.pct((bounds(p) until bounds(p + 1)).map(late(_).toDouble), 99)
      summary += f"rate ${cfg.rates(k)}%.0f msg/s: delivered=${lats.size} lost=$lost " +
        f"p50=$p50%.1f ms p99=$p99%.1f ms lag_slope=$slope%.1f msg/s " +
        f"gen_late_p99=$genLate%.0f ms meets_limit=$ok"
      if (genLate > cfg.limitMs * GenLate)
        summary += f"WARNING generator fell behind its schedule at ${cfg.rates(k)}%.0f msg/s: " +
          f"late p99 $genLate%.0f ms"
      LadderStep(cfg.rates(k), p50, p99, slope, ok)
    }
    if (drainSecs.nonEmpty) {
      val drainSec = Stats.median(drainSecs)
      summary += drainSecs.map(d => f"$d%.3f").mkString("drains [", ", ", "] s")
      e2e("work_s") = drainSec
      layers("drain.msgs_per_s") = cfg.backlog / drainSec
    }
    ladderStats.lift(ladderStats.size / 2).foreach { mid =>
      // the middle rate in windows of about 1 s of due time: the median of
      // the windows' percentiles, so a burst of host noise moves one window
      val p = ladderStats.size / 2 + 1
      val nWin = math.max(1, math.round(ladderSec(p - 1)).toInt)
      val winMs = ladderSec(p - 1) * 1000 / nWin
      val byWindow = (bounds(p) until bounds(p + 1))
        .filter(i => corpus.kept(i.toLong) && seen(i) >= 0 && audit.delivered(i))
        .groupBy(i => math.min(nWin - 1, ((due(i) - phaseStartMs(p)) / winMs).toInt))
        .values.map(_.map(i => (seen(i) - due(i)).toDouble)).toSeq
      e2e("latency_p50_ms") = if (byWindow.isEmpty) Double.NaN else Stats.median(byWindow.map(Stats.pct(_, 50)))
      e2e("latency_p99_ms") = if (byWindow.isEmpty) Double.NaN else Stats.median(byWindow.map(Stats.pct(_, 99)))
      layers("ladder.sustained_msgs_per_s") =
        ladderStats.filter(_.meetsLimit).map(_.rate).maxOption.getOrElse(0.0)
      layers("lag.slope_msgs_per_s") = mid.lagSlope
    }

    // consumer lag and generator health
    val lagAll = monitor.lag.synchronized(monitor.lag.toVector)
    layers("lag.max_msgs") = if (lagAll.isEmpty) 0 else lagAll.map(_._2).max.toDouble
    val lates = (0 until liveTotal).map(late(_).toDouble)
    layers("gen.late_ms_p99") = if (lates.isEmpty) 0.0 else Stats.pct(lates, 99)
    layers("gen.append_ms_p50") = Stats.medianOr0(gen.appendMs.toVector)

    // the sink and its ledger, as the monitor saw them
    val ep = monitor.epochs.synchronized(monitor.epochs.toVector)
    layers("sink.epochs") = ep.map(_._1).distinct.size.toDouble
    layers("sink.lines_per_epoch_p50") =
      Stats.medianOr0(ep.sliding(2).collect { case Seq(a, b) if b._3 > a._3 => (b._3 - a._3).toDouble }.toVector)
    layers("sink.epoch_gap_ms_p50") =
      Stats.medianOr0(ep.sliding(2).collect { case Seq(a, b) => (b._2 - a._2).toDouble }.toVector)
    layers("sink.mark_past_eof") = monitor.markPastEof.toDouble

    // the parse layer, from the program's own counts: the rows the source
    // handed to parseBodies (numInputRows of the micro-batch progress
    // reports) and the lines at the sink, each checked against what the
    // generator offered since the group joined. A continuous query reports
    // no per-epoch input rows, so that variant is not checked here.
    var serdeMismatch = 0L
    progress.filter(_ => !cfg.continuous).foreach { pl =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val rowsIn = pl.all.map(_.rows).sum
      val wantIn = (0 until total).count(i => corpus.selected(i.toLong)).toLong
      val wantOut = (0 until total).count(i => corpus.kept(i.toLong)).toLong
      layers("serde.input_mismatch") = math.abs(rowsIn - wantIn).toDouble
      layers("serde.output_mismatch") = math.abs(audit.lines - wantOut).toDouble
      serdeMismatch = math.abs(rowsIn - wantIn) + math.abs(audit.lines - wantOut)
      summary += s"serde rows_in=$rowsIn (offered $wantIn) rows_out=${audit.lines} (expected $wantOut)"
    }

    layers("audit.lost_msgs") = audit.lost.toDouble
    layers("audit.dup_msgs") = audit.duplicated.toDouble
    layers("audit.corrupt_msgs") = audit.corrupted.toDouble
    layers("audit.misparsed_msgs") = audit.misparsed.toDouble
    val failed = audit.lost + audit.duplicated + audit.corrupted + audit.misparsed + serdeMismatch
    Result(e2e, layers, audit.offered, failed, correct = failed == 0, firstTimedMs, summary.toSeq)
  }

  /** Timed calls on the run's own input log after the query stopped, and a
    * parse-rate probe over a sample of the run's own bodies. */
  def layerProbes(layers: Report): Unit = {
    val q = 0
    val max = TopicLog.maxOffset(root, InTopic, q)
    def readMs(from: Long): Double = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val it = TopicLog.readRange(root, InTopic, q, from, math.min(max, from + 1000))
      try it.foreach(_ => ()) finally it.close()
      (System.nanoTime() - t0) / 1e6
    })
    layers("topiclog.read_head_ms") = readMs(0)
    layers("topiclog.read_tail_ms") = readMs(math.max(0, max - 1000))
    val newest = {
      val it = TopicLog.readRange(root, InTopic, q, max - 1, max)
      try it.map(_._2.bornTs).toSeq.headOption.getOrElse(0L) finally it.close()
    }
    layers("topiclog.search_tail_ms") = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      TopicLog.searchOffset(root, InTopic, q, newest)
      (System.nanoTime() - t0) / 1e6
    })
    layers("topiclog.max_offset_us") = Stats.median((0 until 200).map { _ =>
      val t0 = System.nanoTime()
      TopicLog.maxOffset(root, InTopic, q)
      (System.nanoTime() - t0) / 1e3
    })
    val deser = graft.serde.RowDeserializer.withLengthCheck(BodySchema, "PAD")
    val bodies = (0 until 20000).map(i => corpus.body(i.toLong, 1700000000000L + i)
      .getBytes(StandardCharsets.UTF_8))
    val mb = bodies.map(_.length.toLong).sum / 1048576.0
    bodies.foreach(deser.deserialize(_)) // warm the JIT on this path first
    layers("serde.parse_mb_per_s") = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      bodies.foreach(deser.deserialize(_))
      mb / ((System.nanoTime() - t0) / 1e9)
    })
  }

  /** Stops the query once it is idle. A micro-batch query first finishes
    * every available batch, so each one's progress report (and with it
    * numInputRows) is out before the stop; a stop between a batch's commit
    * and its report would drop that report. */
  private def stopIdle(q: StreamingQuery): Unit = {
    if (!cfg.continuous) q.processAllAvailable()
    q.stop()
  }

  private def sleepUntil(ms: Long): Unit = {
    var now = System.currentTimeMillis()
    while (now < ms) { Thread.sleep(math.min(50L, ms - now)); now = System.currentTimeMillis() }
  }

  /** Waits until every kept message of `ids` is visible, or the consumer has
    * nearly caught up and nothing new has become visible for two seconds,
    * or the timeout passes. A lost message never arrives; the audit counts
    * it. "Nearly": a continuous reader reports its position only with its
    * next emitted row, so a tail of filtered-out messages stays as lag. */
  private def awaitDelivered(ids: Range, q: StreamingQuery, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    val want = ids.filter(i => corpus.kept(i.toLong))
    var lastSeen = -1
    var lastChangeMs = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      if (q.exception.isDefined) throw q.exception.get
      val nSeen = want.count(seen(_) >= 0)
      if (nSeen == want.size) return
      val now = System.currentTimeMillis()
      if (nSeen != lastSeen) { lastSeen = nSeen; lastChangeMs = now }
      val lag = OffsetStore.consumerLag(root, InTopic, Group).values.sum
      if (lag <= QuietLag * queues && now - lastChangeMs >= 2000) return
      Thread.sleep(20)
    }
    val missing = want.count(seen(_) < 0)
    System.err.println(s"[lane] delivery wait timed out: $missing of ${want.size} kept " +
      s"messages unseen, lag ${OffsetStore.consumerLag(root, InTopic, Group)}, " +
      s"ledger epoch ${EpochLedger.read(root, OutTopic).map(_.maxEpoch)}")
  }
}

object Lane {
  val InTopic = "in"
  val OutTopic = "out"
  val Group = "bench"

  val BodySchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("stamp", LongType),
    StructField("user", LongType), StructField("kind", StringType),
    StructField("score", DoubleType), StructField("amount", LongType),
    StructField("region", StringType), StructField("text", StringType)))

  /** Per-queue lag a drained consumer may still show (see awaitDelivered). */
  val QuietLag = 64

  /** Lag growing faster than this share of the input rate is a backlog. */
  val LagGrowth = 0.2

  /** A rung whose generator appended later (p99) than this share of the
    * latency limit is flagged. */
  val GenLate = 0.05

  final case class LadderStep(rate: Double, p50: Double, p99: Double, lagSlope: Double,
      meetsLimit: Boolean)

  /** The complete lines of an output queue below its committed byte mark
    * (or the file's end, when a published mark points past it). */
  private def committedLines(root: String, q: Int, markBytes: Long): Iterator[String] = {
    val f = TopicLog.queueFile(root, OutTopic, q)
    if (!f.exists()) return Iterator.empty
    val n = math.min(markBytes, f.length()).toInt
    val bytes = new Array[Byte](n)
    val in = new RandomAccessFile(f, "r")
    try in.readFully(bytes) finally in.close()
    val text = new String(bytes, StandardCharsets.UTF_8)
    text.substring(0, text.lastIndexOf('\n') + 1).split("\n").iterator.filter(_.nonEmpty)
  }

  /** One sink line (`bornTs \t key \t tag \t props \t body`, fields escaped),
    * or None when the line is not well formed. The library's own parser is
    * package-private and throws on a torn line, which the audit must count
    * rather than die on. */
  def parseSinkLine(line: String): Option[Message] = {
    val parts = line.split("\t", -1)
    if (parts.length != 5) return None
    scala.util.Try(parts(0).toLong).toOption.map { born =>
      Message(born, unescape(parts(1)), unescape(parts(2)), Map.empty, unescape(parts(4)))
    }
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        sb.append(s.charAt(i + 1) match {
          case 't' => '\t'
          case 'n' => '\n'
          case 'r' => '\r'
          case other => other
        })
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  final case class Audit(offered: Long, lines: Long, kept: Long,
      lost: Long, duplicated: Long, corrupted: Long, misparsed: Long,
      delivered: Int => Boolean, badSamples: Seq[String])

  /**
   * Exactly-once audit: every output line below each queue's final ledger
   * mark is matched to the generated set. A kept message must appear once,
   * with the expected body and born_ts; a dirty one must show its known PAD
   * outcome. Messages before `fromId` (the warm-up) are outside the audit.
   */
  def audit(root: String, queues: Int, corpus: Corpus, fromId: Int, total: Int,
      due: Array[Long]): Audit = {
    val count = new Array[Int](total)
    var lines = 0L
    var corrupted = 0L
    var misparsed = 0L
    val bad = mutable.ArrayBuffer[String]()
    def note(m: Message): Unit = if (bad.size < 3)
      bad += s"key=${m.key} born=${m.bornTs} body=${m.body.take(60).replace(graft.serde.Delimiters.Soh, "|")}"
    val ledger = EpochLedger.read(root, OutTopic)
    for (q <- 0 until queues; st <- ledger; line <- committedLines(root, q, st.committed(q)._2)) {
      lines += 1
      parseSinkLine(line) match {
        case None => corrupted += 1; if (bad.size < 3) bad += s"unparsable: ${line.take(60)}"
        case Some(m) =>
          val id = scala.util.Try(m.key.toLong).getOrElse(-1L)
          if (id < 0 || id >= total) { corrupted += 1; note(m) }
          else {
            val i = id.toInt
            count(i) += 1
            if (i >= fromId && count(i) == 1) {
              val ok = corpus.kept(i) && m.body == corpus.expectedOut(i) && m.bornTs == due(i)
              if (!ok) {
                note(m)
                if (corpus.dirty(i) != Corpus.Clean) misparsed += 1 else corrupted += 1
              }
            }
          }
      }
    }
    var kept, lost, dup = 0L
    for (i <- fromId until total) {
      if (corpus.kept(i)) {
        kept += 1
        if (count(i) == 0) lost += 1
      }
      if (count(i) > 1) dup += count(i) - 1
    }
    Audit(total - fromId, lines, kept, lost, dup, corrupted, misparsed,
      i => count(i) > 0, bad.toSeq)
  }
}
