package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/**
 * Benchmark main. One JVM runs one workload once and prints one line
 * `GRAFTBENCH {...}` with its end-to-end metrics, per-layer metrics (when
 * traced), the operation counts of its audit, and human-readable notes.
 *
 *   --workload board|mq_microbatch|mq_continuous
 *   --seed N        inputs are a pure function of the seed
 *   --seconds S     measured time (the ladder, or the board's timed passes)
 *   --trace 0|1     1 attaches the listeners and records spans
 *   --work DIR      working directory (topics, checkpoints, spans, dumps)
 *   --data DIR      board input tables
 *   --t0-ms MS      wall clock at which the benchmark process started
 *   --toy 1         toy sizes, for the benchmark's own smoke test
 *   --keys a,b,c    board keys (default: the fixed board set)
 */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val toy = opts.getOrElse("toy", "0") == "1"
    val work = new File(opts("work"))
    val t0Ms = opts.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis())
    work.mkdirs()

    val nproc = Runtime.getRuntime.availableProcessors()
    val isLane = workload.startsWith("mq_")
    // lanes: Spark slots + generator + monitor must fit the host's cores
    // the traced micro-batch run's single-threaded baseline: local[1]
    val baseline = opts.getOrElse("baseline", "0") == "1"
    val slots = if (baseline) 1 else if (isLane) nproc - 2 else nproc
    if (slots < 1 || (isLane && slots + 2 > nproc)) fail(s"thread budget: $workload needs at least 3 cores " +
      s"(Spark slots + generator + monitor), this host has $nproc")

    sys.props("graft.bench") = "1"
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "ckpt").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val tracer = new Tracer(traced)
    val counters = new SparkCounters
    val progress = new ProgressLog(tracer)
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.streams.addListener(progress)
    }

    val out = workload match {
      case "board" =>
        val o = new Board(spark, new File(opts("data")).getAbsolutePath, work, tracer, counters,
          traced).run(seconds, opts.get("keys").map(_.split(",").toSeq).getOrElse(Board.Keys))
        if (traced) Layers.streams(o.layers, progress.all)
        o
      case "mq_microbatch" | "mq_continuous" =>
        val cfg0 = Workloads.lane(workload, toy)
        val cfg = if (baseline) cfg0.copy(warmupSec = 0, rates = Nil, drains = 1) else cfg0
        val lane = new Lane(spark, cfg, seed, work, tracer, if (traced) Some(progress) else None)
        val t0 = System.currentTimeMillis()
        val o = lane.run(seconds)
        val t1 = System.currentTimeMillis()
        if (traced) {
          lane.layerProbes(o.layers)
          org.apache.spark.BenchBus.drain(spark.sparkContext)
          Layers.spark(o.layers, counters, t0, t1)
          Layers.streams(o.layers, progress.all)
        }
        o
      case other => fail(s"unknown workload: $other")
    }

    out.e2e("setup_s") = (out.firstTimedMs - t0Ms) / 1000.0
    out.e2e("peak_rss_mb") = Stats.peakRssMb()
    if (traced) {
      tracer.selfSeconds.toSeq.sortBy(-_._2).foreach { case (n, s) =>
        println(f"[trace] self $n%-28s $s%9.3f s")
      }
      tracer.writeJson(new File(work, "spans.json").toPath)
    }
    out.summary.foreach(l => println(s"[$workload] $l"))
    println("GRAFTBENCH " + Stats.jsonObj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "failed_keys" -> out.failedKeys.map(Stats.jsonStr).mkString("[", ",", "]"),
      "e2e" -> out.e2e.toJson,
      "layers" -> out.layers.toJson)))
    System.out.flush()
    spark.stop()
    // leaked non-daemon threads (state-store maintenance, netty) must not
    // keep the JVM alive once the result is out
    Runtime.getRuntime.halt(0)
  }

  def fail(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    System.err.flush()
    Runtime.getRuntime.halt(2)
    throw new IllegalStateException(msg)
  }
}

final case class Result(e2e: Report, layers: Report, attempted: Long, failed: Long,
    correct: Boolean, firstTimedMs: Long, summary: Seq[String],
    failedKeys: Seq[String] = Nil)

/** The two connector lanes' fixed settings. */
object Workloads {
  def lane(name: String, toy: Boolean): LaneConfig = (name, toy) match {
    case ("mq_microbatch", false) => LaneConfig(continuous = false, textBytes = 950,
      historyPerQueue = 100000, warmupRate = 1000, warmupSec = 1.5,
      rates = Seq(1000, 4000, 64000), limitMs = 2000, backlog = 60000, drains = 2)
    case ("mq_continuous", false) => LaneConfig(continuous = true, textBytes = 40,
      historyPerQueue = 500000, warmupRate = 1000, warmupSec = 2,
      rates = Seq(200, 1000, 4000), limitMs = 500, backlog = 10000, drains = 0)
    case ("mq_microbatch", true) => LaneConfig(continuous = false, textBytes = 950,
      historyPerQueue = 2000, warmupRate = 100, warmupSec = 1,
      rates = Seq(100, 200, 400), limitMs = 2000, backlog = 500, drains = 2)
    case ("mq_continuous", true) => LaneConfig(continuous = true, textBytes = 40,
      historyPerQueue = 2000, warmupRate = 100, warmupSec = 1,
      rates = Seq(100, 200, 400), limitMs = 500, backlog = 500, drains = 0)
    case _ => Main.fail(s"no lane named $name")
  }
}

/** Per-layer metrics read from Spark's own surfaces. */
object Layers {
  def spark(r: Report, c: SparkCounters, fromMs: Long, toMs: Long): Unit = {
    val s = c.snapshot
    r("spark.jobs") = s.jobs.toDouble
    r("spark.stages") = s.stages.toDouble
    r("spark.tasks") = s.tasks.toDouble
    r("spark.task_s") = s.taskMs / 1e3
    r("spark.shuffle_read_mb") = s.shuffleReadBytes / 1048576.0
    r("spark.shuffle_write_mb") = s.shuffleWriteBytes / 1048576.0
    r("spark.driver_gap_s") = c.idleSeconds(fromMs, toMs)
  }

  /** `StreamingQueryProgress.durationMs` medians over batches that read data. */
  def streams(r: Report, batches: Seq[ProgressLog.Batch]): Unit = {
    val live = batches.filter(_.rows > 0)
    def p50(k: String): Double = Stats.medianOr0(live.flatMap(_.durations.get(k)).map(_.toDouble))
    r("mb.batches") = live.size.toDouble
    r("mb.rows_per_batch_p50") = Stats.medianOr0(live.map(_.rows.toDouble))
    r("mb.latest_offset_ms_p50") = p50("latestOffset")
    r("mb.query_planning_ms_p50") = p50("queryPlanning")
    r("mb.add_batch_ms_p50") = p50("addBatch")
    r("mb.wal_commit_ms_p50") = p50("walCommit")
    r("mb.trigger_ms_p50") = p50("triggerExecution")
  }
}
