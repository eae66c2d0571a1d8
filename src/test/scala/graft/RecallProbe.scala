package graft

/** Diagnostic (test scope, not shipped): measured recall + wall time of
  * the adaptive approximate entries at an arbitrary SF dir — the evidence
  * harness behind the BASELINE.md recall-vs-SF curves.
  * Run: `sbt "Test/runMain graft.RecallProbe [sfDir] [neardup|knn|all]"` */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators._
    val dir = args.headOption.getOrElse("/root/repo/testdata-gen/sf1")
    val what = if (args.length > 1) args(1) else "all"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
      .localCheckpoint()
    val n = emb.filter(col("emb").isNotNull).count()
    println(s"[probe] corpus $dir n=$n")

    // the exact all-pairs ground truth is ~25 min at 200k vectors — persist
    // it beside the SF dir so bit-width sweeps don't recompute it
    def exactPairs(): org.apache.spark.sql.DataFrame = {
      // the driver SF dirs are read-only; only the synthesized decades cache
      if (dir.startsWith("/root/testdata/"))
        return Similarity.embeddingNearDupsExact(emb, 0.3).select("vec_a", "vec_b")
      val cachePath = s"$dir/_exact_neardup_pairs.parquet"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(cachePath))) {
        Similarity.embeddingNearDupsExact(emb, 0.3)
          .select("vec_a", "vec_b")
          .write.mode("overwrite").parquet(cachePath)
      }
      spark.read.parquet(cachePath)
    }

    // bit-width sweep at fixed flips: the evidence behind the √-law bits
    // cap — BITS=8,9,10 FLIPS=3 env lists, recall per (bits, flips) combo
    if (what == "neardup-bits") {
      val exact = exactPairs().cache()
      val total = exact.count()
      println(s"[probe] exact pairs=$total (adaptive bits=${Similarity.adaptiveLshBits(n, 4)})")
      val bitsList = sys.env.getOrElse("BITS", "8,9,10").split(",").map(_.trim.toInt)
      val flipsList = sys.env.getOrElse("FLIPS", "3").split(",").map(_.trim.toInt)
      for (b <- bitsList; f <- flipsList) {
        val (caught, secs) = time {
          val a = Similarity.embeddingNearDups(emb, 0.3, 16, b, probeFlips = f)
            .select("vec_a", "vec_b")
          exact.join(a, Seq("vec_a", "vec_b"), "left_semi").count()
        }
        println(f"[probe] embed_neardup bits=$b flips=$f recall=${caught.toDouble / total}%.3f secs=$secs%.1f")
      }
      exact.unpersist()
    }

    // cheap pair-recall ESTIMATOR over sampled exact pairs: a pair is
    // caught iff some table has probe(a)∩home(b) or probe(b)∩home(a) —
    // evaluable directly on the pair sample via bucket joins, without
    // paying the operator's candidate-verify stage. Sweeps many
    // (bits, flips) combos in minutes; the chosen operating point is then
    // confirmed with one full operator run (neardup-bits mode).
    if (what == "neardup-est") {
      val pct = sys.env.getOrElse("PAIR_PCT", "1").toInt
      val exact = exactPairs()
        .filter(pmod(xxhash64(col("vec_a"), col("vec_b")), lit(100)) < pct)
        .cache()
      val total = exact.count()
      println(s"[probe] sampled exact pairs=$total (${pct}%)")
      val bitsList = sys.env.getOrElse("BITS", "8,9,10").split(",").map(_.trim.toInt)
      val flipsList = sys.env.getOrElse("FLIPS", "3").split(",").map(_.trim.toInt)
      val tablesList = sys.env.getOrElse("TABLES", "16").split(",").map(_.trim.toInt)
      for (b <- bitsList; f <- flipsList; nt <- tablesList) {
        val (caught, secs) = time {
          val home = Similarity.lshBuckets(emb.filter(col("emb").isNotNull), "emb", nt, b, 42L)
            .select(col("vec_id"), col("table"), col("bucket"))
          val probe = Similarity.lshProbeBuckets(
              emb.filter(col("emb").isNotNull).select("vec_id", "emb"), "emb", nt, b, 42L, f)
            .select(col("vec_id"), col("table"), col("bucket"))
          val ab = exact
            .join(probe.select(col("vec_id").as("vec_a"), col("table"), col("bucket")), Seq("vec_a"))
            .join(home.select(col("vec_id").as("vec_b"), col("table"), col("bucket")),
              Seq("vec_b", "table", "bucket"), "left_semi")
            .select("vec_a", "vec_b")
          val ba = exact
            .join(probe.select(col("vec_id").as("vec_b"), col("table"), col("bucket")), Seq("vec_b"))
            .join(home.select(col("vec_id").as("vec_a"), col("table"), col("bucket")),
              Seq("vec_a", "table", "bucket"), "left_semi")
            .select("vec_a", "vec_b")
          exact.join(ab.union(ba).distinct(), Seq("vec_a", "vec_b"), "left_semi").count()
        }
        println(f"[probe] embed_neardup(est) bits=$b flips=$f tables=$nt recall=${caught.toDouble / total}%.3f secs=$secs%.1f")
      }
      exact.unpersist()
    }

    // full SHIPPED operating point vs exact pairs, one run — the
    // banded-third-decade evidence mode (round 18): on the 40% source-id
    // band of sf10 the shipped adaptive point is bits 9 / flips 3 / L 64 —
    // the SAME engaged n^ρ escalation as full sf10 at ~1/3 the candidate
    // mass, so the recall the estimator predicted is MEASURED through the
    // whole operator (bucket join + verify kernel), not inferred
    if (what == "neardup-band") {
      val bits = Similarity.adaptiveLshBits(n, 4)
      val flips = Similarity.adaptiveProbeFlips(bits, 4)
      val tables = Similarity.adaptiveLshTables(bits, 4)
      val exact = exactPairs().cache()
      val total = exact.count()
      println(s"[probe] exact pairs=$total bits=$bits flips=$flips tables=$tables")
      val (caught, secs) = time {
        val a = Similarity.embeddingNearDups(emb, 0.3, tables, bits, probeFlips = flips)
          .select("vec_a", "vec_b")
        exact.join(a, Seq("vec_a", "vec_b"), "left_semi").count()
      }
      println(f"[probe] embed_neardup(SHIPPED full operator) bits=$bits flips=$flips " +
        f"tables=$tables recall=${caught.toDouble / total}%.3f ($caught/$total) secs=$secs%.1f")
      exact.unpersist()
    }

    // sampled-source edge recall for the kNN graph: exact top-5 via brute
    // force over ~SAMPLE sources (default 2000) — the full exhaustive graph
    // is N² and infeasible at the third decade, but per-source edge recall
    // over a deterministic sample estimates the same quantity with
    // ±~0.01 stderr at 10k edges
    if (what == "knn-sample") {
      val k = Similarity.adaptiveCentroids(n)
      val sample = sys.env.getOrElse("SAMPLE", "2000").toLong
      val mod = math.max(1L, n / sample)
      val probes = emb.filter(col("emb").isNotNull && pmod(col("vec_id"), lit(mod)) === 0)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
      // brute-force top-5 EXCLUDING self, the knnGraph contract
      val exact = Similarity.bruteForceTopK(emb, probes, 6)
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
            .orderBy(col("sim").desc, col("neighbor_id"))))
        .filter(col("rn") <= 5)
        .select(col("query_id").as("src_id"), col("neighbor_id")).cache()
      val totalE = exact.count()
      val shipped = Similarity.adaptiveNprobe(k)
      val npList = sys.env.get("NPROBES")
        .map(_.split(",").map(_.trim.toInt).toSeq)
        .getOrElse(Seq(shipped))
      println(s"[probe] sampled exact edges=$totalE K=$k shipped_nprobe=$shipped")
      for (np <- npList) {
        val (caught, secs) = time {
          val a = Similarity.knnGraph(emb, 5, k, np, 0, Similarity.knuthCentroids _)
            .select(col("src_id"), col("neighbor_id"))
          exact.join(a, Seq("src_id", "neighbor_id"), "left_semi").count()
        }
        println(f"[probe] knn_graph_probe(sampled) nprobe=$np recall=${caught.toDouble / totalE}%.3f secs=$secs%.1f" +
          (if (np == shipped) " SHIPPED" else ""))
      }
      exact.unpersist()
    }

    if (what == "all" || what == "neardup") {
      val bits = Similarity.adaptiveLshBits(n, 4)
      val exact = exactPairs().cache()
      val total = exact.count()
      println(s"[probe] exact pairs=$total bits=$bits")
      for (flips <- Seq(0, 1, 2, 3)) {
        val (caught, secs) = time {
          val a = Similarity.embeddingNearDups(emb, 0.3, 16, bits, probeFlips = flips)
            .select("vec_a", "vec_b")
          exact.join(a, Seq("vec_a", "vec_b"), "left_semi").count()
        }
        println(f"[probe] embed_neardup flips=$flips recall=${caught.toDouble / total}%.3f secs=$secs%.1f")
      }
      exact.unpersist()
    }
    if (what == "sem") {
      val approx = Similarity.semanticDedup(emb, 0.4)
        .select(col("vec_id"), col("keep").as("keep_approx"))
      val e = Similarity.semanticDedupExact(emb, 0.4)
        .select(col("vec_id"), col("keep").as("keep_exact")).cache()
      val total = e.count()
      val agreed = e.join(approx, Seq("vec_id"), "left")
        .filter(coalesce(col("keep_approx"), lit(true)) === col("keep_exact"))
        .count()
      println(f"[probe] semantic_dedup keep-agreement=${agreed.toDouble / total}%.3f ($agreed/$total)")
    }
    if (what == "pq") {
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
      val exact = Similarity.bruteForceTopK(emb, probes, 10)
        .select("query_id", "neighbor_id").cache()
      val total = exact.count()
      // the SHIPPED operating point: adaptive shape + trained codebooks +
      // √N exact rerank; donor-codebook and extra-iteration rows alongside
      // so the training gain (and its saturation) stays measured. A shape
      // sweep rides along (kc capped at n — can't have more donors than
      // vectors) so threshold choices stay measured, not guessed.
      val shapes = (Seq(Similarity.adaptivePqShape(n)) ++
        Seq((4, 16), (8, 64), (8, 256), (16, 256)).filter(_._2 <= n)).distinct
      for ((m, kc) <- shapes; it <- Seq(0, 1, 2)) {
        val l = Similarity.adaptivePqRerank(n)
        val cbs = Similarity.pqCodebooksTrained(emb, m, kc, iters = it)
        val recon = emb.select(col("vec_id"),
          Similarity.pqReconstruct(col("emb"), cbs).as("emb"))
        val short = Similarity.bruteForceTopK(recon, probes, l)
          .select("query_id", "neighbor_id")
        val c = exact.join(short, Seq("query_id", "neighbor_id"), "left_semi").count()
        val tag = if ((m, kc) == Similarity.adaptivePqShape(n) && it == 1) "SHIPPED"
          else s"iters=$it"
        println(f"[probe] ann_pq $tag m=$m kc=$kc L=$l recall=${c.toDouble / total}%.3f ($c/$total)")
      }
      for ((m, kc) <- Seq(Similarity.adaptivePqShape(n), (8, 256)).distinct) {
        val cbs = Similarity.pqCodebooks(emb, m, kc)
        val recon = emb.select(col("vec_id"),
          Similarity.pqReconstruct(col("emb"), cbs).as("emb"))
        val approx = Similarity.bruteForceTopK(recon, probes, 10)
          .select("query_id", "neighbor_id")
        val caught = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
        println(f"[probe] ann_pq m=$m kc=$kc recall=${caught.toDouble / total}%.3f ($caught/$total)")
        // shortlist containment + exact-rerank recall at candidate depths L:
        // rerank recall@10 == P(true top-10 in the PQ top-L shortlist)
        for (l <- Seq(20, 50, 100)) {
          val short = Similarity.bruteForceTopK(recon, probes, l)
            .select("query_id", "neighbor_id")
          val c = exact.join(short, Seq("query_id", "neighbor_id"), "left_semi").count()
          println(f"[probe] ann_pq m=$m kc=$kc rerankL=$l recall=${c.toDouble / total}%.3f ($c/$total)")
        }
      }
    }
    if (what == "all" || what == "knn") {
      val k = Similarity.adaptiveCentroids(n)
      val ((exactG, totalE), esecs) = time {
        val g = Similarity.knnGraph(emb, 5, k, k, 0, Similarity.knuthCentroids _)
          .select(col("src_id"), col("neighbor_id")).cache()
        (g, g.count())
      }
      println(f"[probe] exact 5-NN edges=$totalE K=$k secs=$esecs%.1f")
      val shipped = Similarity.adaptiveNprobe(k)
      for (np <- Seq(6, 12, shipped, 24, 32).distinct.sorted) {
        val (caught, secs) = time {
          val a = Similarity.knnGraph(emb, 5, k, np, 0, Similarity.knuthCentroids _)
            .select(col("src_id"), col("neighbor_id"))
          exactG.join(a, Seq("src_id", "neighbor_id"), "left_semi").count()
        }
        val recall = caught.toDouble / totalE
        println(f"[probe] knn_graph_probe nprobe=$np recall=$recall%.3f secs=$secs%.1f" +
          (if (np == shipped) " SHIPPED" else ""))
        // the calibration assertion (round 17): at the SHIPPED escalation
        // the measured edge recall must clear RecallFloorsSpec's 0.50 floor with
        // >= 0.05 margin at EVERY measured scale point — the law stays a
        // fitted curve (measured 0.642/0.656/0.562 at K=16/48/160 under
        // the pure sqrt-law; 0.607 at K=1600 under the (K/160)^(1/4)
        // third-decade boost, vs 0.480 unboosted), not a single-decade
        // calibration
        if (np == shipped)
          require(recall >= 0.55,
            f"shipped nprobe=$np recall=$recall%.3f < 0.55 at K=$k — " +
              "the sqrt-law divisor needs recalibration at this decade")
      }
      exactG.unpersist()
    }
    spark.stop()
  }
}
