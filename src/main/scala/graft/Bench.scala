package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore

object Bench {
  /** Stateful Structured Streaming entries. These leave state-store
    * maintenance threads + checkpoint cleanup behind in the JVM, which the
    * round-3 judge measured contaminating the next ~7 benched queries by
    * 3-6x. They run LAST, and StateStore providers are unloaded after each
    * so they only ever pay for themselves. */
  private val streamingEntries =
    Set("events_windowed_stream", "events_hopping_stream",
      "events_dedup_stream", "sessionize_stream",
      "corpus_quality_stream", "decontaminate_stream", "events_enrich_stream",
      "purchase_attribution_stream", "token_count_stream",
      "kmv_distinct_stream", "blocklist_stream", "entropy_stream")

  /** Summed executor task time per timed query (round 21, verdict #3):
    * the scaling lane at sf0.1 measures driver latency, not parallelism —
    * wall times barely move with the core count, so the driver's low-core
    * ratio can't catch a genuinely serial operator. Summed task seconds CAN:
    * a kernel-bound key shows taskSec ≈ wall·cores at full occupancy and
    * taskSec ≫ wall·1 when serial. Rides ONLY in the BENCH_iters sidecar
    * (stdout JSON line unchanged — the env/stdout contract is frozen). */
  private class TaskTimeAcc extends org.apache.spark.scheduler.SparkListener {
    @volatile var taskMillis = 0L
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      taskMillis += s.stageInfo.taskMetrics.executorRunTime
  }

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
    // timings measure the operators, not the correctness harness — the
    // approximate entries skip their eager recall-assertion jobs under bench
    sys.props("graft.bench") = "1"
    val forceDistributed = graft.util.FastPaths.forceDistributed
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
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
    // noop-sink write materializes EVERY output column and keeps sorts:
    // count() let Catalyst prune projections, so scan-stage queries were
    // timed as bare parquet scans and orderBys were optimized away
    val taskAcc = new TaskTimeAcc
    spark.sparkContext.addSparkListener(taskAcc)
    // per-(query, sample) summed task seconds, aligned with the wall samples
    val taskSecs = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    def once(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      // listener-bus drains sit OUTSIDE the timed region: settle the
      // previous query's stage events, snapshot, time, settle, diff
      Thread.sleep(30)
      val taskMs0 = taskAcc.taskMillis
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          // -1.0 is the sentinel the driver records; WHY it failed must
          // still reach the log or the failure costs a debugging round
          System.err.println(s"[bench] $name FAILED: $e")
          e.getStackTrace.take(5).foreach(f => System.err.println(s"[bench]   at $f"))
          taskSecs(name) :+= -1.0
          return -1.0
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(30)
      taskSecs(name) :+= (taskAcc.taskMillis - taskMs0) / 1e3
      wall
    }
    // Deterministic order (Map hash order varied run to run): batch queries
    // sorted by name, the stateful streaming entries last.
    val (streaming, batch) =
      SparkEntry.queries.toSeq.sortBy(_._1).partition(q => streamingEntries(q._1))
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
      if (streamingEntries(name)) StateStore.stop()
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
    // a >3x disagreement between samples means a noise window swallowed one
    // of them — one extra isolated sample arbitrates (skip sub-second
    // queries: their variance is fixed-cost jitter, not noise windows)
    val retried = (selB ++ selS).filter { case (name, _) =>
      val ts = samples(name)
      ts.nonEmpty && ts.forall(_ >= 0) && ts.min > 0.5 && ts.max / ts.min > 3.0
    }
    retried.foreach { case (name, fn) => samples(name) :+= run(name, fn) }
    val results = (selB ++ selS).map { case (name, _) =>
      val ts = samples(name)
      name -> (if (ts.isEmpty || ts.exists(_ < 0)) -1.0 else ts.min)
    }
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
    // summed executor task seconds per sample (aligned with iters): the
    // scaling-capable signal — see TaskTimeAcc
    val tsk = (selB ++ selS).map { case (name, _) =>
      s"\"" + name + "\":" + taskSecs(name).map(sec).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    sidecar("SPARK_GRAFT_ITERS_OUT", "BENCH_iters.json",
      s"""{"iters":$its,"taskSec":$tsk,"sf":"$sfDir"}""")
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
    spark.stop()
    System.out.flush()
    // hard-exit the forked JVM: a leaked non-daemon thread (state store
    // maintenance, netty) must never hang the bench after results are out
    Runtime.getRuntime.halt(0)
  }
}
