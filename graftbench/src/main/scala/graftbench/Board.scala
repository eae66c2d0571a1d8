package graftbench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/**
 * The batch board: a fixed set of `SparkEntry.queries` keys, two per operator
 * family, each run through the noop sink the way `Bench` runs
 * them (batch keys by name, stateful streaming keys last, state-store
 * providers unloaded after each).
 *
 * Set-up runs every key once and dumps its result as parquet next to
 * `oracle_sql.json` (the `Verify` dump); that pass also fills the
 * once-per-JVM caches (MqRoundtrip topics, trained BPE merges, the history
 * probe index) so no timed key is billed for them. The timed passes follow;
 * the oracle compare runs after the JVM exits.
 */
object Board {
  /** key -> family. A family is the operator modules a key's entry calls:
    * relational = Relational, AsOfJoin, RangeJoin, SkewJoin, Bucketed,
    * Sketches; text = TextAnalysis, CorpusPipeline; dedup = Dedup;
    * vector = Similarity, PageRank, Multimodal; stream = MqRoundtrip,
    * StreamingQueries, Deser, graft.streaming. */
  val Families: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "relational",
    "heavy_hitters" -> "relational",
    "text_stats" -> "text",
    "bpe_encode" -> "text",
    "dedup_exact" -> "dedup",
    "dedup_incremental" -> "dedup",
    "ann_topk" -> "vector",
    "knn_graph" -> "vector",
    "mq_roundtrip_events" -> "stream",
    "events_windowed_stream" -> "stream")

  val FamilyNames: Seq[String] = Seq("relational", "text", "dedup", "vector", "stream")

  val Keys: Seq[String] = Families.map(_._1)

  /** One timed run of one key. A failed run has a negative wall time. */
  final case class Sample(wallS: Double, buildS: Double, counts: Counts, gapS: Double)

  /** Stateful streaming entries: run last, state stores unloaded after each
    * (the same quarantine `Bench` applies). */
  val Streaming: Set[String] = Set("events_windowed_stream", "events_hopping_stream",
    "events_dedup_stream", "sessionize_stream", "corpus_quality_stream",
    "decontaminate_stream", "events_enrich_stream", "purchase_attribution_stream",
    "token_count_stream", "kmv_distinct_stream", "blocklist_stream", "entropy_stream")
}

final class Board(spark: SparkSession, dataDir: String, work: File, tracer: Tracer,
    counters: SparkCounters, traced: Boolean) {
  import Board._

  def run(seconds: Double, keys: Seq[String]): Result = {
    val family = Families.toMap
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) Main.fail(s"unknown board keys: ${unknown.mkString(",")}")
    val (stream, batch) = keys.sorted.partition(Streaming)
    val ordered = batch ++ stream
    val failed = mutable.Set[String]()
    val summary = mutable.ArrayBuffer[String]()

    // set-up: the Verify dump, which also warms every key's caches
    val dumpDir = new File(work, "verify")
    tracer.span("board.verify_dump") {
      ordered.foreach { k =>
        try SparkEntry.queries(k)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(new File(dumpDir, k).getAbsolutePath)
        catch { case e: Throwable => failed += k; summary += s"$k FAILED in dump: $e" }
        if (Streaming(k)) StateStore.stop()
      }
      val sql = SparkEntry.oracleSql.filter { case (k, _) => ordered.contains(k) }
        .toSeq.map { case (k, v) => k -> Stats.jsonStr(v) }
      java.nio.file.Files.writeString(new File(dumpDir, "oracle_sql.json").toPath, Stats.jsonObj(sql))
    }

    // timed passes: at least two, then more until `seconds` have gone by.
    // After the dump, the first noop pass still runs 1.3-1.9x slower per key
    // than the next (JIT), so each key is scored by its best pass, as Bench
    // folds its samples. Odd passes run each group in reverse, as Bench
    // does, so no key is always timed right after the same neighbour.
    val firstTimedMs = System.currentTimeMillis()
    val samples = mutable.Map[String, Vector[Sample]]().withDefaultValue(Vector.empty)
    var pass = 0
    while (pass < 2 || System.currentTimeMillis() - firstTimedMs < seconds * 1000) {
      tracer.span("board.pass", s"pass$pass") {
        val order = if (pass % 2 == 0) ordered else batch.reverse ++ stream.reverse
        order.foreach { k => samples(k) :+= once(k) }
      }
      pass += 1
    }
    val timedEndMs = System.currentTimeMillis()
    ordered.foreach { k => if (samples(k).exists(_.wallS < 0)) failed += k }

    val e2e = new Report
    val layers = new Report
    val ok = ordered.filterNot(failed)
    def med(k: String)(f: Sample => Double): Double = Stats.median(samples(k).map(f))
    def best(k: String): Double = samples(k).map(_.wallS).min
    e2e("work_s") = ok.map(best).sum
    e2e("latency_p50_ms") = Stats.median(ok.map(best(_) * 1000))
    // with ten keys the nearest-rank p99 is the slowest key's best time
    e2e("latency_p99_ms") = Stats.pct(ok.map(best(_) * 1000), 99)
    summary += s"passes=$pass keys=${ordered.size}"
    ordered.foreach { k =>
      summary += f"$k%-24s ${family.getOrElse(k, "-")}%-10s " +
        samples(k).map(s => f"${s.wallS}%.3f").mkString("[", ", ", "]") + " s"
    }

    if (traced) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      Layers.spark(layers, counters, firstTimedMs, timedEndMs)
      for (f <- FamilyNames) {
        val ks = ok.filter(k => family.get(k).contains(f))
        def sum(g: Sample => Double): Double = ks.map(k => med(k)(g)).sum
        layers(s"board.${f}_s") = ks.map(best).sum
        layers(s"board.$f.jobs") = sum(_.counts.jobs.toDouble)
        layers(s"board.$f.task_s") = sum(_.counts.taskMs / 1e3)
        layers(s"board.$f.shuffle_mb") = sum(_.counts.shuffleMb)
        layers(s"board.$f.driver_gap_s") = sum(_.gapS)
        layers(s"board.$f.build_s") = sum(_.buildS)
      }
    }
    Result(e2e, layers, ordered.size.toLong, failed.size.toLong, correct = failed.isEmpty,
      firstTimedMs, summary.toSeq, failed.toSeq.sorted)
  }

  /** One key: the entry call (build) and the noop write, timed; in a traced
    * run the listener bus is drained on both sides so its counts are the
    * key's own. A failure is recorded as a negative wall time. */
  private def once(k: String): Sample = {
    if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
    val c0 = counters.snapshot
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var buildS = 0.0
    val ok = try {
      tracer.span("board.key", k) {
        val df = tracer.span("board.build", k)(SparkEntry.queries(k)(spark, dataDir))
        buildS = (System.nanoTime() - t0) / 1e9
        tracer.span("board.write", k)(df.write.format("noop").mode("overwrite").save())
      }
      true
    } catch { case e: Throwable => System.err.println(s"[board] $k FAILED: $e"); false }
    val wall = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    if (Streaming(k)) StateStore.stop()
    if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
    Sample(if (ok) wall else -1.0, buildS, counters.snapshot - c0,
      if (traced) counters.idleSeconds(t0Ms, t1Ms) else 0.0)
  }
}
