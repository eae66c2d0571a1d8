package graft

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.SparkSession

import graft.util.FastPaths

/**
 * Scale check by counts: each data-bound entry runs once at a small and
 * once at a big SF dir, each run one [[Bench.KeyProfile]] sample, and the
 * shuffle bytes it writes (`shufW`) must grow by at most `SlackFactor` ×
 * the growth of its input table. Shuffle bytes track the data a stage
 * moves and repeat exactly from run to run, so a quadratic stage (an
 * all-pairs join, a band join whose candidates outgrow the corpus) shows
 * as ~100× on a 10× step, with no job latency to hide it at the small SF.
 * The same keys run a second time with every size-adaptive fast path
 * forced off, so the distributed plans carry their own bound.
 *
 * Run: `sbt "runMain graft.ScaleCheck /root/testdata/sf0.01 /root/testdata/sf0.1"`
 * Writes `SCALING.json` (per key: both sides' counts, ratio, bound, ok, and
 * the phase whose shuffle grew most with its bytes at both dirs) and exits
 * 1 on any row over its bound.
 */
object ScaleCheck {

  /** The data-bound entries (the ones that dominate at 100 TB) mapped to
    * their scaling input table — the tables grow at DIFFERENT rates across
    * SFs (documents 10x from sf0.01 to sf0.1, embeddings 4x), so each key's
    * growth bound comes from its own input's ratio. Every multi-second
    * non-streaming key from the bench board is here, i.e. exactly the set
    * where a super-linear stage would matter. Streaming entries are
    * excluded — their jobs track micro-batch admission, which the
    * streaming suites pin separately. */
  val DataBoundEntries: Seq[(String, String)] = Seq(
    "dedup_minhash" -> "documents", "dedup_minhash_keep" -> "documents",
    "ngram_jaccard" -> "documents", "dedup_simhash" -> "documents",
    "semantic_dedup" -> "embeddings", "text_lsh_clusters" -> "documents",
    "corpus_clean" -> "documents", "duplicate_passages" -> "documents",
    "winnow_fingerprint" -> "documents", "embed_neardup" -> "embeddings",
    "hybrid_search" -> "documents", "ngram_containment" -> "documents",
    "dedup_minhash_best" -> "documents", "heavy_hitters" -> "documents",
    "graph_pagerank" -> "embeddings", "hard_negatives_probe" -> "embeddings",
    "q31_reachability" -> "embeddings",
    "bm25_search" -> "documents", "spell_correct" -> "documents",
    "segment_dedup" -> "documents", "text_bigram_logprob" -> "documents",
    "dsir_select" -> "documents", "corpus_assemble" -> "documents",
    "knn_graph_probe" -> "embeddings", "dedup_bloom" -> "documents",
    "snapshot_diff" -> "documents", "gram_coverage" -> "documents",
    "ann_ivfpq_indexed" -> "embeddings", "ngram_jaccard_inverted" -> "documents")

  /** Growth bound: data ratio × slack 1.5 — far below the ~10× extra a
    * quadratic stage costs on a 10× step. */
  val SlackFactor: Double = 1.5

  /** Expected-work multiplier for the keys whose DOCUMENTED recall
    * escalation steps between the two dirs (round 16): multi-probe LSH
    * engages flips only above the bits floor, and the √-law nprobe grows
    * with K, so crossing an engagement boundary multiplies per-row work by
    * a KNOWN factor — (1+flips) for the probe side, nprobe ratio for IVF —
    * that a pure data-ratio bound would misread as super-linear growth
    * (measured 14.7× on a 10× step at sf1 for embed_neardup: 10× data ×
    * the flips 0→3 step's 4× candidates, each linear). The bound becomes
    * dataRatio × escalation × slack — it measures growth BEYOND the
    * documented escalation, which is the plan-quality question; a genuine
    * quadratic (~100× on the step) still blows far past it. Both factors
    * come from the SAME formulas the operators (and their oracles) use. */
  val EscalationKeys: Set[String] =
    Set("embed_neardup", "semantic_dedup", "knn_graph_probe",
      "hard_negatives_probe", "ann_ivfpq_indexed")
  def escalationFactor(key: String, nSmall: Long, nBig: Long): Double = {
    import graft.operators.Similarity._
    key match {
      case "embed_neardup" | "semantic_dedup" =>
        // expected candidate work per vector: tables × probes × the
        // ABOVE-TARGET part of the realized bucket occupancy (N/2^bits
        // sawtooths up to ~1.5× the 128 target between width steps — at
        // sf10 it sits at 195, real extra kernel work the probe factor
        // alone understates; below the target the floor-regime occupancy
        // is already priced into the data ratio, so it clamps to 1 and
        // the historical small-SF bounds are unchanged)
        def f(n: Long) = {
          val bits = adaptiveLshBits(n, 4)
          adaptiveLshTables(bits, 4).toDouble *
            (1 + adaptiveProbeFlips(bits, 4)) *
            math.max(1.0, n.toDouble / (1L << bits) / TargetBucketOccupancy)
        }
        f(nBig) / f(nSmall)
      case "knn_graph_probe" | "hard_negatives_probe" | "ann_ivfpq_indexed" =>
        // ann_ivfpq_indexed probes through the SAME adaptive √-law
        // formulas (fixed 5-query probe set, so per-QUERY cell growth is
        // the whole escalation; the √N shortlist is sublinear and rides
        // inside the data-ratio slack)
        // both prune through the identical nprobe escalation (the knnGraph
        // cell machinery; hard_negatives_probe adds a label filter).
        // EscalationKeys' contract — factors come from the SAME formulas
        // the operators use — is why the EXHAUSTIVE hard_negatives entry
        // is NOT here (ADVICE r17): it hardcodes nprobe = numCentroids
        // = 16 and never calls these formulas, so it sits out the growth
        // lanes entirely (exhaustive by oracle contract), and THIS probe
        // sibling carries the lane coverage instead
        def np(n: Long) = adaptiveNprobe(adaptiveCentroids(n))
        np(nBig).toDouble / np(nSmall)
      case _ => 1.0
    }
  }

  /** The non-streaming keys with a size-adaptive fast path. Every bench
    * corpus sits under the fast-path ceilings, so the DEFAULT lane's
    * growth bounds above measure the fused/driver kernels — but at 100 TB
    * the distributed siblings run. This lane re-checks the same keys with
    * [[graft.util.FastPaths]] forced to report ineligible, so the plans
    * the scale story actually rests on carry their own growth bound.
    * `dedup_incremental_stream` is the one fast-path key excluded — a
    * stream's jobs track micro-batch admission, which the streaming
    * suites pin separately. */
  val ForcedDistributedKeys: Seq[(String, String)] = Seq(
    "dedup_minhash_keep" -> "documents", "ngram_jaccard" -> "documents",
    "semantic_dedup" -> "embeddings", "text_lsh_clusters" -> "documents",
    "graph_pagerank" -> "embeddings", "hard_negatives_probe" -> "embeddings",
    "embed_neardup" -> "embeddings", "q31_reachability" -> "embeddings",
    "knn_graph_probe" -> "embeddings")

  /** The growth-lane keys whose DEFAULT plan flips at the broadcast
    * probe-index gate ([[graft.util.FastPaths.probeIndex]], 256 MB
    * [[graft.util.FastPaths.ProbeIndexBytes]]): under it the corpus
    * dedups through one fused broadcast-index stage, above it through the
    * banded equi-join. A step whose small side is under the ceiling and
    * big side above it measures the PLAN CHANGE, not growth, so
    * [[check]] refuses it in the default lane; the forced lane never
    * flips. */
  val ProbeIndexFlipKeys: Set[String] =
    Set("dedup_minhash", "dedup_minhash_keep", "dedup_minhash_best", "ngram_jaccard")

  /** Whether the probe-index fast path is eligible for the documents
    * corpus at `dir` — the operators' own gate (byte ceiling, integral and
    * unique ids) over the same census (bands 16 × hashes 64, live rows
    * only). */
  def probeIndexEligible(spark: SparkSession, dir: String): Boolean = {
    import org.apache.spark.sql.functions.col
    FastPaths.probeIndex("scalecheck.probe_index",
        spark.read.parquet(s"$dir/documents.parquet").filter(col("text").isNotNull),
        "text", "doc_id", graft.operators.Dedup.probeIndexBytesFor(_, _, 16, 64))(())
      .isDefined
  }

  /** Row counts of one input table at two SF dirs. */
  def dataCounts(spark: SparkSession, table: String, small: String, big: String): (Long, Long) =
    (spark.read.parquet(s"$small/$table.parquet").count(),
      spark.read.parquet(s"$big/$table.parquet").count())

  /** LIVE row counts — the same liveness filter the operators apply before
    * deriving their adaptive parameters (a NULL embedding/text is an absent
    * row). [[escalationFactor]] must see these, not raw parquet counts: at
    * an SF straddling an engagement boundary (a flips step, an nprobe
    * step) a dead-row gap between the two censuses would make the bound
    * assume a different escalation than the operator actually took
    * (ADVICE r16). The growth bound's DATA ratio stays raw — data size is
    * what the scan pays for. */
  def liveDataCounts(spark: SparkSession, table: String, small: String, big: String): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val pred = table match {
      case "embeddings" => col("embedding").isNotNull
      case "documents" => col("text").isNotNull
      case _ => org.apache.spark.sql.functions.lit(true)
    }
    (spark.read.parquet(s"$small/$table.parquet").filter(pred).count(),
      spark.read.parquet(s"$big/$table.parquet").filter(pred).count())
  }

  /** One key's phases at both dirs and its bound. */
  final case class Result(key: String, smallPhases: Seq[(String, Bench.Counts)],
      bigPhases: Seq[(String, Bench.Counts)], bound: Double) {
    val small: Bench.Counts = Bench.Counts.sum(smallPhases.map(_._2))
    val big: Bench.Counts = Bench.Counts.sum(bigPhases.map(_._2))
    def ratio: Double = big.shufW.toDouble / small.shufW
    def ok: Boolean = ratio <= bound
    /** The phase whose shuffle bytes grew most: its name, bytes at small, bytes at big. */
    val growth: (String, Long, Long) = {
      val before = smallPhases.toMap.map { case (p, c) => p -> c.shufW }
      val (p, c) = bigPhases.maxBy { case (p, c) => c.shufW - before.getOrElse(p, 0L) }
      (p, before.getOrElse(p, 0L), c.shufW)
    }
  }

  /** Run each key once at `small` and once at `big` and report its
    * shuffle-byte growth. Refused, as harness-usage errors that would make
    * the check vacuous: an input table that does not grow, a step the
    * probe-index plan flips across, and a small run that writes no shuffle
    * bytes. */
  def check(spark: SparkSession, keys: Seq[(String, String)], small: String,
      big: String): Seq[Result] = {
    val counts = keys.map(_._2).distinct
      .map(t => t -> dataCounts(spark, t, small, big)).toMap
    counts.foreach { case (table, (cs, cb)) =>
      require(cb > cs, s"$table does not grow from $small to $big ($cs -> $cb rows) — " +
        "pick SFs with a real data step or the growth check is vacuous")
    }
    require(!keys.exists(k => ProbeIndexFlipKeys(k._1)) || FastPaths.forceDistributed ||
      probeIndexEligible(spark, small) == probeIndexEligible(spark, big),
      s"the probe-index census crosses the ${FastPaths.ProbeIndexBytes}-byte broadcast " +
        s"ceiling between $small and $big, so the default plans of " +
        s"${ProbeIndexFlipKeys.toSeq.sorted.mkString(", ")} differ across the step — " +
        "pick a step on one side of it")
    // live counts feed ONLY the escalation factor (see [[liveDataCounts]])
    val live = keys.collect { case (k, t) if EscalationKeys.contains(k) => t }
      .distinct.map(t => t -> liveDataCounts(spark, t, small, big)).toMap
    keys.map { case (k, table) =>
      val smallPhases = phases(spark, k, small)
      require(smallPhases.map(_._2.shufW).sum > 0, s"$k writes no shuffle bytes at $small, " +
        "so its growth says nothing — pick a bigger small SF")
      val (cs, cb) = counts(table)
      val (ls, lb) = live.getOrElse(table, (cs, cb))
      val r = Result(k, smallPhases, phases(spark, k, big),
        cb.toDouble / cs * escalationFactor(k, ls, lb) * SlackFactor)
      println(f"[scale] $k $small->$big shufW ${r.small.shufW} -> ${r.big.shufW} " +
        f"ratio ${r.ratio}%.2f bound ${r.bound}%.2f ok=${r.ok} most in ${r.growth._1} " +
        s"(${r.growth._2} -> ${r.growth._3} bytes)")
      r
    }
  }

  /** `key`'s jobs over one run at `dir`, by phase: one [[Bench.KeyProfile]]
    * sample of a noop-sink write of its result. */
  def phases(spark: SparkSession, key: String, dir: String): Seq[(String, Bench.Counts)] = {
    val sc = spark.sparkContext
    val profile = new Bench.KeyProfile
    sc.addSparkListener(profile)
    try {
      profile.sample(sc, key) {
        SparkEntry.queries(key)(spark, dir).write.format("noop").mode("overwrite").save()
      }
      profile.settle(sc)
      profile.phasesOf(key)
    } finally sc.removeSparkListener(profile)
  }

  def main(args: Array[String]): Unit = {
    val Array(small, big) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = check(spark, DataBoundEntries, small, big)
    // forced lane last: the flag is process-wide
    val forced = FastPaths.forced(check(spark, ForcedDistributedKeys, small, big))
    def quote(s: String) = "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
    def entryJson(rs: Seq[Result]): String = rs.map(r =>
      s"""${quote(r.key)}:{"small":{${r.small.json}},"big":{${r.big.json}},""" +
        f""""ratio":${r.ratio}%.2f,"bound":${r.bound}%.2f,"ok":${r.ok},""" +
        s""""phase":{"name":${quote(r.growth._1)},"small":${r.growth._2},"big":${r.growth._3}}}""")
      .mkString("{", ",", "}")
    val line = s"""{"metric":"scale_shuffle_growth","small":${quote(small)},""" +
      s""""big":${quote(big)},"cpus":$cpus,"entries":${entryJson(results)},""" +
      s""""forced_distributed":${entryJson(forced)}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("SCALING.json"), line)
    println(line)
    val bad = (results ++ forced).filterNot(_.ok)
    bad.foreach(r => System.err.println(f"[scale] ${r.key}'s shuffle grew ${r.ratio}%.1fx " +
      f"across the data step (bound ${r.bound}%.1fx), most in ${r.growth._1}"))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
