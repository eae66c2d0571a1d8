package graft
import scala.collection.mutable

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.streaming.state.StateStore

object Bench {
  /** Spark job figures, summed over a set of jobs. */
  private[graft] final class Counts {
    var jobs, stages, tasks = 0
    var taskMs, shufR, shufW, jobMs = 0L
    def add(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      taskMs += o.taskMs; shufR += o.shufR; shufW += o.shufW; jobMs += o.jobMs
    }
    def json: String =
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"taskSec":${taskMs / 1e3},""" +
        s""""shufR":$shufR,"shufW":$shufW,"jobSec":${jobMs / 1e3}"""
  }
  private[graft] object Counts {
    def sum(cs: Iterable[Counts]): Counts = {
      val total = new Counts
      cs.foreach(total.add)
      total
    }
  }

  /** The one per-key profiler: the jobs each timed sample starts, their
    * stages' summed executor time (taskSec), tasks and shuffle bytes, and
    * their wall time (jobSec), per phase. It rides ONLY in the BENCH_iters
    * sidecar; the stdout line and the env contract are frozen.
    *
    * Summed task seconds tell what wall time cannot: a kernel-bound key
    * shows taskSec ~ wall*cores at full occupancy and taskSec ~ wall when
    * serial, and at sf0.1 the wall barely moves with the core count.
    *
    * A job belongs to the sample whose thread started it: [[sample]] tags
    * the body's jobs, and Spark carries the tag into every job the body
    * starts, on its own thread, a thread it creates (a stream's execution
    * thread) or a Spark SQL pool thread (broadcasts, subqueries). Untagged
    * jobs (warmup) are not counted. */
  private[graft] final class KeyProfile extends SparkListener {
    // sample -> (key, its phases in the order they first ran)
    private val samples = mutable.ArrayBuffer[(String, mutable.LinkedHashMap[String, Counts])]()
    // running job -> (its phase, start time, stages); stage -> its first job's phase
    private val running = mutable.Map[Int, (Counts, Long, Seq[Int])]()
    private val stages = mutable.Map[Int, Counts]()
    // running SQL execution -> its long call site
    private val executions = mutable.Map[Long, String]()
    // the highest job id whose end has been delivered (see settle)
    private var lastJobEnded = -1

    /** `body` as one sample of `key`. */
    def sample[T](sc: SparkContext, key: String)(body: => T): T = {
      val tag = synchronized {
        samples += key -> mutable.LinkedHashMap.empty
        SampleTag + (samples.size - 1)
      }
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
    }

    /** Returns once every job and stage event posted before the call has
      * reached this listener, so a live session's profile can be read.
      * Spark delivers a listener's events in order, so the end of a job
      * started now comes after every earlier one. */
    def settle(sc: SparkContext): Unit = {
      val marker = sc.submitJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) => (),
        Seq(0), (_: Int, _: Unit) => (), ())
      marker.get()
      val id = marker.jobIds.head
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (synchronized(lastJobEnded < id)) {
        require(System.nanoTime() < deadline, "the listener bus did not deliver a job end in 60 s")
        Thread.sleep(10)
      }
    }

    private def of(key: String) = samples.collect { case (`key`, phases) => phases }.toSeq

    /** Task seconds of each sample of `key`, in order. */
    def taskSec(key: String): Seq[Double] =
      synchronized(of(key).map(_.values.map(_.taskMs).sum / 1e3))

    /** `key`'s phases summed over its samples, in the order each first ran. */
    def phasesOf(key: String): Seq[(String, Counts)] = synchronized {
      val all = mutable.LinkedHashMap[String, Counts]()
      for (phases <- of(key); (p, c) <- phases) all.getOrElseUpdate(p, new Counts).add(c)
      all.toSeq
    }

    /** `key`'s sidecar object: its totals, then `byPhase`. */
    def json(key: String): String = synchronized {
      val phases = phasesOf(key)
      val total = Counts.sum(phases.map(_._2))
      val byPhase = phases.map { case (p, c) =>
        "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(p)) + s"\":{${c.json}}"
      }.mkString("{", ",", "}")
      s"""{"samples":${of(key).size},${total.json},"byPhase":$byPhase}"""
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized(executions(x.executionId) = x.details)
      case x: SparkListenerSQLExecutionEnd => synchronized(executions.remove(x.executionId))
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      for (tags <- prop("spark.job.tags"); t <- tags.split(",").find(_.startsWith(SampleTag))) {
        val phase = samples(t.drop(SampleTag.length).toInt)._2
          .getOrElseUpdate(phaseOf(e, prop), new Counts)
        phase.jobs += 1
        running(e.jobId) = (phase, e.time, e.stageIds)
        e.stageIds.foreach(stages.getOrElseUpdate(_, phase))
      }
    }

    /** A job's phase, in this order: the decision of the
      * [[graft.util.FastPaths]] gate that ran it (its job description);
      * else the first frame of a graft class outside graft.util (the line
      * that ran the action, or started the stream: a stream's thread
      * carries the call site of its start()) in its stages' long call
      * site, then in its SQL execution's (Spark SQL starts some jobs on
      * pool threads, whose own call site is the pool's); else Spark's short
      * call site, marked `no graft frame`. */
    private def phaseOf(e: SparkListenerJobStart, prop: String => Option[String]): String = {
      val sites = e.stageInfos.sortBy(-_.stageId).map(_.details) ++
        prop("spark.sql.execution.id").flatMap(x => executions.get(x.toLong))
      prop("spark.job.description").filter(_.startsWith("fastpath "))
        .orElse(sites.iterator.flatMap(_.linesIterator).find(GraftFrame.findPrefixOf(_).isDefined))
        .getOrElse("no graft frame: " + e.stageInfos.maxByOption(_.stageId).fold("")(_.name))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages.get(si.stageId).foreach { c =>
        c.stages += 1; c.tasks += si.numTasks; c.taskMs += m.executorRunTime
        c.shufR += m.shuffleReadMetrics.totalBytesRead
        c.shufW += m.shuffleWriteMetrics.bytesWritten
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      lastJobEnded = math.max(lastJobEnded, e.jobId)
      running.remove(e.jobId).foreach { case (phase, t0, stageIds) =>
        phase.jobMs += e.time - t0
        stageIds.foreach(stages.remove)
      }
    }
  }

  private val SampleTag = "bench-sample-"
  // a frame in a graft class outside graft.util
  private val GraftFrame = """^graft\.(?!util\.)""".r

  // SPARK_GRAFT_BENCH_FORCE_DISTRIBUTED=1: every size-adaptive fast path
  // reports ineligible (graft.util.FastPaths), so this run measures the
  // DISTRIBUTED plans — the 100 TB path — on the same data. Results land
  // in *_distributed sidecars, never clobbering the default board.
  def main(args: Array[String]): Unit =
    graft.util.FastPaths.forcedIf(
      sys.env.get("SPARK_GRAFT_BENCH_FORCE_DISTRIBUTED").contains("1"))(bench())

  private def bench(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt
    val forceDistributed = graft.util.FastPaths.forceDistributed
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (codegen, file listing, JIT) so the first timed query
    // isn't charged for startup
    spark.range(1000).selectExpr("sum(id)").collect()
    // warm the parquet reader against whichever table the dir carries (a
    // ScaleData-synthesized dir holds only the data-bound tables)
    Seq("lineitem", "documents").iterator
      .map(t => java.nio.file.Paths.get(sfDir, s"$t.parquet"))
      .find(java.nio.file.Files.exists(_))
      .foreach(p => spark.read.parquet(p.toString).limit(1).count())
    val profile = new KeyProfile
    spark.sparkContext.addSparkListener(profile)
    // noop-sink write materializes EVERY output column and keeps sorts:
    // count() let Catalyst prune projections, so scan-stage queries were
    // timed as bare parquet scans and orderBys were optimized away
    def once(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try profile.sample(spark.sparkContext, name) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          // -1.0 is the sentinel the driver records; WHY it failed must
          // still reach the log or the failure costs a debugging round
          System.err.println(s"[bench] $name FAILED: $e")
          e.getStackTrace.take(5).foreach(f => System.err.println(s"[bench]   at $f"))
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Deterministic order (Map hash order varied run to run): batch queries
    // sorted by name, the stateful streaming entries last.
    val (streaming, batch) =
      SparkEntry.queries.toSeq.sortBy(_._1).partition(q => SparkEntry.streamingKeys(q._1))
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries (isolated
    // measurement during perf work); unset = all
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selB = batch.filter { case (n, _) => only.forall(_.contains(n)) }
    val selS = streaming.filter { case (n, _) => only.forall(_.contains(n)) }
    def run(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t = once(name, fn)
      // unload state-store providers + stop the maintenance thread so a
      // stateful query never bills the one benched after it
      if (SparkEntry.streamingKeys(name)) StateStore.stop()
      t
    }
    // min over iterations is the stable estimator (single-shot timings at
    // this scale are dominated by JIT/first-listing noise) — but min only
    // defends against noise if the iterations are NOT back-to-back: a
    // multi-minute machine-noise window once inflated both samples of an
    // alphabetically contiguous block. So each iteration is a FULL pass over
    // the query list, odd passes in reverse order, so no query's samples are
    // adjacent in time and a noise window lands on different queries in
    // different passes. Streaming entries stay last in every pass (their
    // state-store residue is the reason they're quarantined).
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // Queries that flagged >2x board-vs-isolated variance in 3 consecutive
    // rounds get one ISOLATED sample first (right after warmup, before the
    // board passes contend for page cache / JIT): min() then reports the
    // steady-state number even when the board passes land in a noise window.
    val isolatedFirst = Seq("semantic_dedup", "dedup_incremental_stream")
    // round 21 (verdict #2): the two stateful-streaming keys whose
    // state-store-commit variance made the top of the board unreadable
    // (purchase_attribution_stream measured 2.40–4.51 s across same-HEAD
    // runs) get a quarantined THIRD sample — taken LAST, after every pass,
    // never first: a trial run with the extra samples at the head measured
    // the alphabetically-adjacent batch block inflated 30-80% in the pass
    // that followed (the round-3 contamination class, surviving
    // StateStore.stop()), while a trailing sample can contaminate nothing.
    val isolatedLast = Seq("purchase_attribution_stream", "events_dedup_stream")
    (selB ++ selS).filter(q => isolatedFirst.contains(q._1))
      .foreach { case (name, fn) => samples(name) :+= run(name, fn) }
    for (pass <- 0 until iters) {
      val ordered =
        if (pass % 2 == 0) selB ++ selS else selB.reverse ++ selS.reverse
      ordered.foreach { case (name, fn) => samples(name) :+= run(name, fn) }
    }
    (selB ++ selS).filter(q => isolatedLast.contains(q._1))
      .foreach { case (name, fn) => samples(name) :+= run(name, fn) }
    val results = (selB ++ selS).map { case (name, _) =>
      val ts = samples(name)
      name -> (if (ts.isEmpty || ts.exists(_ < 0)) -1.0 else ts.min)
    }
    // stopping the session delivers every queued listener event, so the
    // profile read below holds every job of every sample
    spark.stop()
    // The driver stores only the LAST 2000 chars of stdout as the round's
    // bench artifact — and sbt appends an ~82-char "[success] Total time"
    // epilogue we can't suppress (run is forked). A 137-key board cannot
    // fit in that window IN ANY FORMAT (names alone exceed it — the
    // round-13 artifact lost the line's head and parsed as null), so the
    // full board rides ONLY in the committed sidecars (BENCH_board.json:
    // flat 3-decimal object; BENCH_iters.json: per-iteration samples) and
    // stdout carries ONE compact, always-parseable JSON line: the total,
    // the most expensive entries (what a reader triages first), and
    // counts + a pointer to the board sidecar.
    def sec(v: Double): String = if (v < 0) "-1.0" else f"$v%.3f"
    // the COMMITTED board (BENCH_board.json) changes only by deliberate
    // min-fold, never as a side effect of running Bench:
    //  - a BENCH_ONLY-restricted run covers a subset of keys and writing it
    //    to the committed name would CLOBBER the full board (this happened:
    //    a one-key isolated run replaced the 109-key board at HEAD) →
    //    partial runs land in *.partial files;
    //  - a FULL pass is usually the driver's contended single-pass refresh
    //    (runs alongside Verify/tests; BASELINE.md capture protocol), whose
    //    numbers are interpretable but must not silently replace the idle
    //    min-of-3 fold → full runs land in *_refresh.json. Fold into the
    //    committed board only via an explicit SPARK_GRAFT_BOARD_OUT.
    def sidecar(envKey: String, base0: String, content: String): Unit =
      try {
        // the distributed lane writes its own sidecar family — a forced-
        // distributed run must never clobber the default board
        val base = if (forceDistributed)
          base0.replace(".json", "_distributed.json") else base0
        val default =
          if (only.isDefined) base + ".partial"
          else base.replace(".json", "_refresh.json")
        val p = java.nio.file.Paths.get(sys.env.getOrElse(envKey, default))
        java.nio.file.Files.write(p,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case e: Throwable => System.err.println(s"[bench] $base0 write failed: $e") }
    // per-iteration times make noise windows visible: a query whose min is
    // honest shows agreeing samples, a noise-window victim shows the outlier
    // it survived (for isolatedFirst queries, sample 0 IS the isolated one).
    val its = (selB ++ selS).map { case (name, _) =>
      s"\"" + name + "\":" + samples(name).map(sec).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // summed executor task seconds per sample (aligned with iters), and
    // each key's jobs by phase — see KeyProfile
    val tsk = (selB ++ selS).map { case (name, _) =>
      val ts = samples(name).zip(profile.taskSec(name)).map { case (w, t) => if (w < 0) w else t }
      s"\"" + name + "\":" + ts.map(sec).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val phases = (selB ++ selS).map { case (name, _) => s"\"" + name + "\":" + profile.json(name) }
      .mkString("{", ",", "}")
    sidecar("SPARK_GRAFT_ITERS_OUT", "BENCH_iters.json",
      s"""{"iters":$its,"taskSec":$tsk,"phases":$phases,"sf":"$sfDir"}""")
    val board = results.map { case (k, v) => s"\"" + k + "\":" + sec(v) }
      .mkString("{", ",", "}")
    sidecar("SPARK_GRAFT_BOARD_OUT", "BENCH_board.json", s"""{"queries":$board,"sf":"$sfDir"}""")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    // top-20 by wall time: ~800 chars worst-case, comfortably inside the
    // ~1900-char budget that survives the driver's tail capture intact
    val top = results.filter(_._2 >= 0).sortBy(-_._2).take(20)
    val qs = top.map { case (k, v) => s"\"" + k + s"\":${sec(v)}" }.mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    println(s"""{"metric":"total","value":${sec(total)},"unit":"sec",""" +
      s""""queries":$qs,"nq":${results.size},"failed":$failed,""" +
      s""""note":"top-20 of ${results.size} keys; full board in BENCH_board.json","sf":"$sfName"}""")
    System.out.flush()
    // hard-exit the forked JVM: a leaked non-daemon thread (state store
    // maintenance, netty) must never hang the bench after results are out
    Runtime.getRuntime.halt(0)
  }
}
