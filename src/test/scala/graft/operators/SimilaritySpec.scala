package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private lazy val embeddings: DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))

  private lazy val dim: Int =
    Tables.embeddings(spark, sfDir).select(size(col("embedding"))).head().getInt(0)

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val sim = df.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
    val ortho = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b")
    assert(ortho.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0) === 0.0)
  }

  test("brute force top-k returns k neighbors per probe, sorted by similarity") {
    val probes = embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val r = Similarity.bruteForceTopK(embeddings, probes, 5)
      .orderBy(col("query_id"), col("sim").desc).collect()
    assert(r.groupBy(_.getLong(0)).forall(_._2.length === 5))
    r.groupBy(_.getLong(0)).values.foreach { rows =>
      val sims = rows.map(_.getDouble(2))
      assert(sims.sameElements(sims.sortBy(-(_: Double))))
      rows.foreach(row => assert(row.getLong(1) !== row.getLong(0)))
    }
  }

  test("brute force plan broadcasts probes — no shuffle of the corpus, no cartesian") {
    val probes = embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val plan = Similarity.bruteForceTopK(embeddings, probes, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), s"no broadcast in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("LSH buckets are deterministic and bounded by bits") {
    val b = Similarity.lshBuckets(embeddings.limit(50), "emb",
      numTables = 4, bitsPerTable = 8)
    val rows = b.select("vec_id", "table", "bucket").collect()
    assert(rows.length === 200) // 50 vectors × 4 tables
    // bucket id = (dim << 44) | sign bits: the dimension occupies the high
    // bits so mixed-dim vectors can never collide into one bucket
    val base = dim.toLong << 44
    assert(rows.forall(r => r.getLong(2) >= base && r.getLong(2) < base + 256))
    val again = Similarity.lshBuckets(embeddings.limit(50), "emb",
      numTables = 4, bitsPerTable = 8).select("vec_id", "table", "bucket").collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("LSH top-k achieves high recall against brute force") {
    val probes = embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val exact = Similarity.bruteForceTopK(embeddings, probes, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(embeddings, probes, 10,
      numTables = 16, bitsPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("IVF: every vector lands in exactly one cell; cells cover the corpus") {
    val centroids = Similarity.sampleCentroids(embeddings, 8)
    assert(centroids.length === 8)
    val assigned = Similarity.assignCells(embeddings.select("vec_id", "emb"), "emb", centroids)
    assert(assigned.count() === embeddings.count())
    val cells = assigned.groupBy("centroid_id").count().collect()
    assert(cells.map(_.getInt(0)).toSet.subsetOf((0 until 8).toSet))
    assert(cells.map(_.getLong(1)).sum === embeddings.count())
  }

  test("IVF top-k: nprobe=all is exhaustive; half-probe recall stays high") {
    val probes = embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val exact = Similarity.bruteForceTopK(embeddings, probes, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every cell must reproduce brute force exactly
    val full = Similarity.ivfTopK(embeddings, probes, 10, numCentroids = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact)
    val half = Similarity.ivfTopK(embeddings, probes, 10, numCentroids = 8, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(half).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF half-probe recall too low: $recall")
  }

  test("one Lloyd iteration holds or improves pruned-IVF recall at nprobe=8") {
    val probes = embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val exact = Similarity.bruteForceTopK(embeddings, probes, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(lloydIters: Int): Double = {
      val got = Similarity.ivfTopK(embeddings, probes, 10,
        numCentroids = 16, nprobe = 8, lloydIters = lloydIters)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val sampled = recall(0)
    val refined = recall(1)
    assert(refined >= sampled,
      s"Lloyd refinement lowered recall: $refined < $sampled")
    // refined centroids are actual cell means, not corpus points
    val start = Similarity.sampleCentroids(embeddings, 8)
    val moved = Similarity.lloydRefine(embeddings, "emb", start, iters = 1)
    assert(moved.length === start.length)
    assert(moved.zip(start).exists { case (a, b) => !a.sameElements(b) })
  }

  test("Lloyd-refined cells still partition the corpus: exhaustive search == brute force") {
    // the ann_ivf_refined entry's contract, asserted here at suite SF too:
    // two refinement passes move every cell boundary, yet with nprobe = K
    // the result must stay brute-force-equal — any doc lost or duplicated
    // by the re-partitioning breaks set equality, not just ordering
    val probes = embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val exact = Similarity.bruteForceTopK(embeddings, probes, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.ivfTopK(embeddings, probes, 10,
      numCentroids = 16, nprobe = 16, lloydIters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(refined === exact)
  }

  test("IVF plan: probes broadcast onto a cell equi-join, no cartesian") {
    val probes = embeddings.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val plan = Similarity.ivfTopK(embeddings, probes, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("IVF assignment at K=1024 stays one fused plan node and evaluates") {
    // the centroid matrix lives inside IvfAssignExpr — a K-literal plan
    // would blow the Catalyst tree / codegen at this K
    val rnd = new scala.util.Random(7)
    val centroids = Array.fill(1024)(Array.fill(dim)(rnd.nextGaussian()))
    val assigned = Similarity.assignCells(embeddings.select("vec_id", "emb"), "emb", centroids)
    val plan = assigned.queryExecution.executedPlan.toString
    assert("graft_ivf_assign".r.findAllIn(plan).size === 1, s"plan not fused:\n$plan")
    val cells = assigned.select("centroid_id").collect().map(_.getInt(0))
    assert(cells.length === embeddings.count())
    assert(cells.forall(c => c >= 0 && c < 1024))
  }

  test("IVF nprobe ordering: nearest cell first, ids deterministic") {
    import spark.implicits._
    val centroids = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0))
    val df = Seq((1L, Seq(0.9, 0.1))).toDF("vec_id", "emb")
    val got = df.select(graft.functions.GraftFunctions
        .ivfAssign(col("emb"), centroids, 3).as("cells"))
      .head().getSeq[Int](0)
    assert(got === Seq(0, 1, 2)) // cos desc: 0.994, 0.110, -0.994
  }

  test("persisted IVF index: exhaustive search equals brute force; probes prune partitions") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-test").toString
    val centroids = Similarity.writeIvfIndex(embeddings, path, numCentroids = 8)
    assert(centroids.length === 8)
    // cell directories on disk — one per non-empty partition value
    val cellDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 8)
    val probes = embeddings.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    // exhaustive: all cells probed -> equals brute force exactly
    val exhaustive = Similarity.ivfTopKIndexed(spark, path, probes, 5, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Similarity.bruteForceTopK(embeddings, probes, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exhaustive === brute)
    // pruned: nprobe=2 must turn into a PARTITION filter — the scan reads
    // only the probed cells' files, never the whole index (the scan node
    // hides inside AdaptiveSparkPlan, so assert on the rendered plan)
    val pruned = Similarity.ivfTopKIndexed(spark, path, probes, 5, nprobe = 2)
    val planStr = pruned.queryExecution.executedPlan.toString
    val inList = "PartitionFilters: \\[centroid_id#\\d+ IN \\(([0-9,]+)\\)".r
      .findFirstMatchIn(planStr).map(_.group(1).split(",").length)
    assert(inList.isDefined, s"no partition IN-filter on the index scan in:\n$planStr")
    assert(inList.get < cellDirs.length,
      s"pruning probed ${inList.get} of ${cellDirs.length} cells — nothing pruned")
    // pruned-path semantics match the in-memory IVF at the same quantizer
    val inMem = Similarity.ivfTopK(embeddings, probes, 5, numCentroids = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pruned.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet === inMem)
  }

  test("embedding near-dup pairs are symmetric-free, above threshold, verified") {
    val pairs = Similarity.embeddingNearDups(embeddings, threshold = 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    pairs.foreach { case ((a, b), sim) =>
      assert(a < b)
      assert(sim >= 0.9)
    }
  }

  test("semanticDedupExact keep decisions are consistent with the exact pair graph") {
    val out = Similarity.semanticDedupExactQuery(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.nonEmpty)
    // keep iff the doc labels its own cluster, and cluster ids are members
    out.foreach { case (id, (cl, keep)) =>
      assert(cl <= id)
      assert(keep === (cl === id))
      assert(out.contains(cl) && out(cl)._1 === cl) // label is a cluster root
    }
    // both endpoints of every exact pair share a cluster
    val pairs = Similarity.embedNearDupExact(spark, sfDir)
      .filter(col("sim") >= 0.4).collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(out(a)._1 === out(b)._1, s"pair ($a,$b) split across clusters")
    }
  }

  test("semanticDedup (LSH default): subset pair graph means errors only ever KEEP extra docs") {
    val exact = Similarity.semanticDedupExactQuery(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val approx = Similarity.semanticDedupQuery(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(approx.nonEmpty)
    // verified LSH pairs are a subset of exact pairs, so: every doc the LSH
    // graph touches is in the exact graph, and a doc the LSH path DROPS
    // (keep=false) must be dropped by the exact operator too — the
    // conservative direction; the reverse (exact drops, LSH keeps) is the
    // only allowed disagreement
    approx.foreach { case (id, (cl, keep)) =>
      assert(exact.contains(id), s"doc $id not in the exact pair graph")
      assert(cl <= id && keep === (cl === id))
      if (!keep) assert(!exact(id), s"doc $id dropped by LSH but kept by exact")
    }
    // the entry's eager gate already enforces the 0.85 floor; recompute the
    // agreement here so the measured value is visible in test output
    val agreed = exact.count { case (id, k) =>
      approx.get(id).map(_._2).getOrElse(true) === k
    }
    info(f"keep agreement ${agreed.toDouble / exact.size}%.3f (${agreed}/${exact.size})")
  }

  test("embeddingNearDups candidate volume grows ~linearly with corpus size") {
    // sum over (table, bucket) of c*(c-1)/2 IS the bucket-join output size.
    // At the production near-dup configuration (12 bits/table) buckets are
    // fine-grained, so candidate growth across a 10x corpus (500 -> 5000
    // vectors) must track the row ratio, not its square — the same guard
    // that pinned dedup_simhash's r5 quadratic blowup. (The query entries
    // run 4 bits/table only because the Gaussian test vectors have no
    // planted near-dups; that trade is recall-gated, not growth-gated.)
    def candidates(dir: String): Long =
      Similarity.lshBuckets(
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb")),
        "emb", numTables = 8, bitsPerTable = 12)
        .groupBy("table", "bucket").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).collect()(0).getDouble(0).toLong
    val small = candidates("/root/testdata/sf0.001")
    val big = candidates("/root/testdata/sf0.1")
    assert(small > 0 && big > 0)
    assert(big.toDouble / small <= 30.0,
      s"candidate growth ${big.toDouble / small}x across a 10x corpus (small=$small big=$big) — quadratic blowup")
  }

  test("production preset (threshold 0.95, 12 bits/table): planted near-dups " +
      "recalled with candidate volume far below corpus²") {
    // The query entries run 4 bits/table because the Gaussian test corpus
    // has no planted near-dups (top pair ≈ 0.51, the LSH-hostile 60°+
    // regime). This is the configuration the operator ships for: a corpus
    // WITH real near-duplicates (8.5° apart, per-bit collision ≈ 0.95),
    // searched at 12 bits/table — where hyperplane LSH delivers high recall
    // AND real pruning at the same time.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vdim = 32
    def unit(v: Array[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n).toSeq
    }
    val base = (0 until 400).map(i =>
      i.toLong -> unit(Array.fill(vdim)(rnd.nextGaussian())))
    // every 5th vector gets a planted near-dup: unit(v + noise), |noise| ≈
    // 0.15 → cosine ≈ 1/sqrt(1+0.15²) ≈ 0.989, above the 0.95 threshold
    val planted = base.filter(_._1 % 5 == 0).map { case (id, v) =>
      (id + 10000L) -> unit(v.zip(
        Array.fill(vdim)(rnd.nextGaussian() * 0.15 / math.sqrt(vdim)))
        .map { case (a, b) => a + b }.toArray)
    }
    val corpus = (base ++ planted).toDF("vec_id", "emb")
    val exact = Similarity.embeddingNearDupsExact(corpus, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= planted.size,
      s"only ${exact.size} true pairs — planting failed")
    val approx = Similarity
      .embeddingNearDups(corpus, threshold = 0.95, numTables = 8, bitsPerTable = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"production-preset recall $recall below 0.9")
    // pruning: the bucket-join candidate volume (Σ c·(c−1)/2 over (table,
    // bucket)) must be a small fraction of the n·(n−1)/2 pair space
    val n = base.size + planted.size
    val cand = Similarity.lshBuckets(corpus, "emb", numTables = 8, bitsPerTable = 12)
      .groupBy("table", "bucket").count()
      .agg(sum(col("count") * (col("count") - 1) / 2)).collect()(0).getDouble(0)
    val pairSpace = n.toDouble * (n - 1) / 2
    assert(cand <= 0.05 * pairSpace,
      f"candidate volume $cand%.0f is ${cand / pairSpace * 100}%.1f%% of the pair space — no pruning")
    info(f"recall $recall%.3f, candidates $cand%.0f = ${cand / pairSpace * 100}%.2f%% of $pairSpace%.0f pairs")
  }

  test("embeddingNearDups fused-kernel verify equals the join-path verify") {
    val fused = Similarity.embeddingNearDups(embeddings, threshold = 0.3,
        numTables = 16, bitsPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val joined = graft.util.FastPaths.forced(Similarity.embeddingNearDups(embeddings, threshold = 0.3,
        numTables = 16, bitsPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    assert(fused === joined)
    assert(fused.nonEmpty)
  }

  test("LSH and near-dup plans contain no cartesian product") {
    val probes = embeddings.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val p1 = Similarity.lshTopK(embeddings, probes, 5)
      .queryExecution.executedPlan.toString
    val p2 = Similarity.embeddingNearDups(embeddings)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"))
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"))
  }

  test("quantizeEmbeddings maps per-dim extremes to 0/255, constants to 0, bounded error") {
    import spark.implicits._
    val embs = Seq(
      (1L, Array(0.0f, 5.0f, 7.5f)),
      (2L, Array(1.0f, 5.0f, 2.5f)),
      (3L, Array(0.5f, 5.0f, 10.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeEmbeddings(embs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // dim0 spans [0,1]; dim1 constant → 0; dim2 spans [2.5,10]
    assert(q(1L) === Seq(0, 0, 170))   // (7.5-2.5)/7.5*255 = 170
    assert(q(2L) === Seq(255, 0, 0))   // dim0 max→255, dim2 min→0
    assert(q(3L) === Seq(128, 0, 255)) // 0.5/1*255 = 127.5 → HALF_UP 128
    // real corpus: every component in [0,255], each dim hits both extremes
    val real = Similarity.quantizeEmbeddings(Tables.embeddings(spark, sfDir))
    val flat = real.select(posexplode(col("qemb")).as(Seq("i", "qv")))
    val range = flat.agg(min("qv"), max("qv")).head()
    assert(range.getInt(0) === 0 && range.getInt(1) === 255)
    val perDim = flat.groupBy("i").agg(min("qv").as("lo"), max("qv").as("hi")).collect()
    perDim.foreach(r => assert(r.getInt(1) === 0 && r.getInt(2) === 255,
      s"dim ${r.getInt(0)} does not span [0,255]"))
  }

  test("dequantize reconstructs within half a quantization step per dim") {
    val embs = Tables.embeddings(spark, sfDir)
    val (q, mins, spans) = Similarity.quantizeEmbeddingsWithStats(embs)
    val deq = q.select(col("vec_id"),
      Similarity.dequantize(col("qemb"), mins, spans).as("demb"))
    val joined = embs.select(col("vec_id"), col("embedding")).join(deq, "vec_id")
      .select(posexplode(arrays_zip(col("embedding"), col("demb"))).as(Seq("i", "p")))
      .select(col("i"), abs(col("p.embedding").cast("double") - col("p.demb")).as("err"))
      .groupBy("i").agg(max("err").as("maxerr")).collect()
    val steps = spans.map(_ / 255.0 / 2.0)
    joined.foreach { r =>
      val i = r.getInt(0)
      assert(r.getDouble(1) <= steps(i) * (1.0 + 1e-12) + 1e-15,
        s"dim $i reconstruction error ${r.getDouble(1)} exceeds half-step ${steps(i)}")
    }
  }

  test("knnGraph: exhaustive == brute force per vector; pruned probe keeps recall; " +
      "the cell join never broadcasts the corpus-sized probe side") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val exact = Similarity.knnGraph(emb, k = 5, numCentroids = 16, nprobe = 16)
    // exhaustive IVF graph == brute force where probes = corpus (top-5 of
    // bruteForceTopK with every vector as its own query)
    val probes = emb.select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val brute = Similarity.bruteForceTopK(emb, probes, 5)
      .select(col("query_id").as("src_id"), col("neighbor_id"), col("sim"))
    assert(exact.exceptAll(brute).isEmpty && brute.exceptAll(exact).isEmpty,
      "exhaustive knnGraph differs from the brute-force graph")
    // the distributed path (forced past the kernel ceiling) must agree
    // with the fused-kernel default bit for bit. Since round 15 that path
    // is the BLOCKED pair enumeration (grid-decomposed flat blocks through
    // one narrow shuffle), not the cell join — the cell join at exhaustive
    // nprobe materialized N² rows each dragging two dim-length arrays.
    val exactBlocked = graft.util.FastPaths.forced(
      Similarity.knnGraph(emb, k = 5, numCentroids = 16, nprobe = 16))
    assert(exactBlocked.exceptAll(exact).isEmpty && exact.exceptAll(exactBlocked).isEmpty,
      "blocked exhaustive path differs from the fused kernel path")
    // plan shape: the kernel runs as an object map over packed blocks, and
    // nothing corpus-sized is ever broadcast
    val plan = exactBlocked.queryExecution.executedPlan.toString
    assert(plan.contains("MapPartitions"), s"expected blocked MapPartitions kernel:\n$plan")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"corpus-sized side must not be broadcast:\n$plan")
    // pruned graph: nprobe=4 of 16 searches ~1/4 of the corpus per vector;
    // edge recall vs the exact graph on the Gaussian corpus
    val approx = Similarity.knnGraph(emb, k = 5, numCentroids = 16, nprobe = 4,
      lloydIters = 1)
    val total = exact.count()
    val caught = exact.select("src_id", "neighbor_id")
      .join(approx.select("src_id", "neighbor_id"), Seq("src_id", "neighbor_id"), "left_semi")
      .count()
    val recall = caught.toDouble / total
    assert(total === emb.count() * 5, "exact graph must have k edges per vector")
    assert(recall >= 0.5, f"pruned-graph recall $recall%.3f below 0.5")
  }

  test("a repeated vec_id never neighbors its twin: default plan equals forced, knn + hard negatives") {
    // every branch excludes self by id (by label when label-filtered); an
    // exhaustive kernel that excluded by row index paired the two rows of
    // id 7 at sim 1.0 while the blocked distributed plan did not
    import spark.implicits._
    val emb = Seq((1L, Array(1.0, 0.0), 0L), (7L, Array(0.9, 0.1), 1L),
      (7L, Array(0.9, 0.1), 2L), (3L, Array(0.0, 1.0), 0L),
      (4L, Array(0.5, 0.5), 1L), (5L, Array(0.2, 0.8), 2L)).toDF("vec_id", "emb", "label")
    def knn() = Similarity.knnGraph(emb.drop("label"), k = 2, numCentroids = 2, nprobe = 2)
      .collect().toSet
    val fast = knn()
    assert(fast === graft.util.FastPaths.forced(knn()))
    assert(!fast.exists(r => r.getLong(0) == r.getLong(1)), fast)
    assert(fast.exists(_.getLong(0) == 7L))
    def hard() = Similarity.hardNegatives(emb, k = 2, numCentroids = 2, nprobe = 2)
      .collect().toSet
    assert(hard() === graft.util.FastPaths.forced(hard()))
  }

  test("embeddingNearDups: a stale knownLiveCount never truncates the fused verify") {
    // just past the verify ceiling, every vector with an identical twin: a
    // row the capped collect drops always has its twin pair in the
    // collision multiset, so a truncated lookup map fails the kernel. The
    // gate's over-full collect falls through to the distributed verify.
    val n = graft.util.FastPaths.VerifyRows / 2 + 1
    val emb = spark.range(n)
      .select(explode(array(col("id") * 2, col("id") * 2 + 1)).as("vec_id"),
        array((0 until 16).map(d => sin(col("id") * (0.7 * (d + 1)) + d)): _*).as("emb"))
    def run() = Similarity.embeddingNearDups(emb, numTables = 1, bitsPerTable = 16,
        knownLiveCount = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = run()
    assert(got === graft.util.FastPaths.forced(run()))
    assert((0L until n).forall(i => got.contains((2 * i, 2 * i + 1, 1.0))))
  }

  test("pruned-regime fused kernel == pruned cell-join plan (knn + hard negatives)") {
    // round-20 internals change: under the kernel ceiling the pruned
    // nprobe < numCentroids regime runs a broadcast kernel over home-cell
    // member lists instead of the cell equi-join + window — pin
    // bit-equality of both plans, label-filtered variant included
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val kern = Similarity.knnGraph(emb, k = 5, numCentroids = 16, nprobe = 4,
      quantizer = Similarity.knuthCentroids)
    val join = graft.util.FastPaths.forced(Similarity.knnGraph(emb, k = 5, numCentroids = 16, nprobe = 4,
      quantizer = Similarity.knuthCentroids))
    assert(kern.exceptAll(join).isEmpty && join.exceptAll(kern).isEmpty,
      "pruned fused kernel differs from the pruned cell-join plan")
    assert(kern.count() > 0)
    val lab = emb.withColumn("label", col("vec_id") % 7)
    val hkern = Similarity.hardNegatives(lab, k = 5, numCentroids = 16, nprobe = 4,
      quantizer = Similarity.knuthCentroids)
    val hjoin = graft.util.FastPaths.forced(Similarity.hardNegatives(lab, k = 5, numCentroids = 16, nprobe = 4,
      quantizer = Similarity.knuthCentroids))
    assert(hkern.exceptAll(hjoin).isEmpty && hjoin.exceptAll(hkern).isEmpty,
      "pruned label-filtered kernel differs from the pruned cell-join plan")
    assert(hkern.count() > 0)
  }

  test("clusterSample: per-cell budget respected, sample ⊆ corpus, " +
      "window pre-prunes before the exchange") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val df = Similarity.clusterSample(emb, numCentroids = 16, perCell = 16)
    val rows = df.collect()
    val perCell = rows.groupBy(_.getLong(1))
    assert(perCell.values.forall(_.length <= 16), "cell over budget")
    assert(perCell.keys.forall(c => c >= 0 && c < 16))
    // a cell with >= 16 members must be filled to exactly its budget
    val cellSizes = Similarity.assignCells(emb, "emb",
        Similarity.knuthCentroids(emb, 16))
      .groupBy(col("centroid_id")).count()
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    cellSizes.foreach { case (cid, n) =>
      val got = perCell.get(cid).map(_.length).getOrElse(0)
      assert(got === math.min(n, 16L).toInt, s"cell $cid: $got of $n")
    }
    // scale shape: WindowGroupLimit partial prune below the window exchange
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$plan")
  }

  test("pqReconstruct: every output is a concatenation of codewords; a donor " +
      "vector reconstructs to itself") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val cbs = Similarity.pqCodebooks(emb, m = 4, k = 16)
    assert(cbs.length === 4 && cbs.forall(_.length === 16))
    assert(cbs.forall(_.forall(_.length === 16)), "4 subspaces of 16 dims")
    val recon = emb.select(col("vec_id"),
      Similarity.pqReconstruct(col("emb"), cbs).as("r")).collect()
    assert(recon.forall(_.getSeq[Double](1).length === 64))
    // each reconstructed subvector must be one of that subspace's codewords
    recon.foreach { row =>
      val r = row.getSeq[Double](1)
      for (m <- 0 until 4) {
        val sub = r.slice(m * 16, (m + 1) * 16)
        assert(cbs(m).exists(_.sameElements(sub)),
          s"vec ${row.getLong(0)} subspace $m not a codeword")
      }
    }
    // donors are their own nearest codeword in every subspace (exact self
    // match maximizes dot x invNorm by Cauchy-Schwarz), so they round-trip
    val donors = Similarity.knuthCentroids(emb, 16)
    val reconMap = recon.map(r => r.getSeq[Double](1).toArray).toSeq
    donors.foreach { d =>
      assert(reconMap.exists(_.sameElements(d)), "donor must reconstruct exactly")
    }
  }

  test("persisted PQ index: codebooks survive the sidecar bit-exactly; codes " +
      "decode to the inline reconstruction; indexed search == inline-trained search") {
    val path = java.nio.file.Files.createTempDirectory("graft-pq-test").toString
    val written = Similarity.writePqIndex(embeddings, path)
    val (codes, read) = Similarity.readPqIndex(spark, path)
    // quantizer round-trips bit-exactly (Double.toString <-> parseDouble)
    assert(read.length === written.length)
    written.zip(read).foreach { case (a, b) =>
      assert(a.length === b.length)
      a.zip(b).foreach { case (x, y) => assert(x.sameElements(y)) }
    }
    // every live vector encoded: m codes each, all within codebook range
    val m = written.length
    val kc = written.head.length
    val collected = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(collected.length === embeddings.filter(col("emb").isNotNull).count())
    collected.foreach { case (id, cs) =>
      assert(cs.length === m && cs.forall(c => c >= 0 && c < kc),
        s"vec $id codes $cs out of ${m}x$kc range")
    }
    // decode(encode(x)) == the inline assignment's reconstruction, per vector
    val fromCodes = codes.select(col("vec_id"),
        Similarity.pqReconstructFromCodes(col("codes"), read).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    embeddings.filter(col("emb").isNotNull)
      .select(col("vec_id"), Similarity.pqReconstruct(col("emb"), written).as("r"))
      .collect().foreach { r =>
        assert(fromCodes(r.getLong(0)) === r.getSeq[Double](1))
      }
    // the full indexed entry answers exactly like the inline-trained entry
    val inline = Similarity.annPq(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val indexed = Similarity.annPqIndexed(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(indexed === inline)
    // pointing a different-kind reader at the PQ index fails loudly
    intercept[IllegalArgumentException] { Similarity.readIvfIndex(spark, path) }
  }

  test("persisted IVFPQ index: probes prune cell partitions at the scan; " +
      "exhaustive nprobe equals the flat PQ search; kind-checked") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivfpq-test").toString
    val (cents, cbs) = Similarity.writeIvfPqIndex(embeddings, path, numCentroids = 8)
    assert(cents.length === 8 && cbs.nonEmpty)
    val cellDirs = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 8)
    val nLive = embeddings.filter(col("emb").isNotNull).count()
    // pruned: nprobe=2 must reach the scan as a PARTITION filter — only the
    // probed cells' code files are listed, the rest never open
    val pruned = Similarity.ivfPqTopKIndexed(spark, path, embeddings, nLive,
      nprobe = 2, what = "ivfpq_suite", minRecall = 0.0)
    val planStr = pruned.queryExecution.executedPlan.toString
    val inList = "PartitionFilters: \\[centroid_id#\\d+ IN \\(([0-9,]+)\\)".r
      .findFirstMatchIn(planStr).map(_.group(1).split(",").length)
    assert(inList.isDefined, s"no partition IN-filter on the code scan in:\n$planStr")
    assert(inList.get < cellDirs.length,
      s"pruning probed ${inList.get} of ${cellDirs.length} cells — nothing pruned")
    // with every cell probed the restriction is vacuous, and because the
    // coarse partitioning rides the SAME trained codebooks, the search must
    // equal the flat inline-trained ann_pq answer exactly
    val exhaustive = Similarity.ivfPqTopKIndexed(spark, path, embeddings, nLive,
        nprobe = 8, what = "ivfpq_suite", minRecall = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val flat = Similarity.annPq(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(exhaustive === flat)
    // and a flat-PQ reader pointed at the IVFPQ root fails loudly
    intercept[IllegalArgumentException] { Similarity.readPqIndex(spark, path) }
  }

  test("appendPqIndex: appended batch encodes through the EXISTING codebooks " +
      "and equals a one-shot encode; the sidecar is untouched") {
    val path = java.nio.file.Files.createTempDirectory("graft-pqapp-test").toString
    Similarity.writePqIndex(embeddings.filter(col("vec_id") % 3 =!= 0), path)
    val sidecarBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, graft.util.IndexSidecar.FileName))
    Similarity.appendPqIndex(spark, embeddings.filter(col("vec_id") % 3 === 0), path)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path, graft.util.IndexSidecar.FileName)) === sidecarBefore,
      "append must not touch the trained codebooks")
    val (codes, cbs) = Similarity.readPqIndex(spark, path)
    // every live vector present exactly once, appended rows encoded exactly
    // as a one-shot pqEncode through the SAME codebooks
    val got = codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got.size === embeddings.filter(col("emb").isNotNull).count())
    embeddings.filter(col("vec_id") % 3 === 0 && col("emb").isNotNull)
      .select(col("vec_id"), Similarity.pqEncode(col("emb"), cbs).as("codes"))
      .collect().foreach { r =>
        assert(got(r.getLong(0)) === r.getSeq[Int](1))
      }
  }

  test("appendIvfPqIndex: grown index equals a one-shot build through the " +
      "same quantizers; both sidecar quantizers untouched") {
    val base = java.nio.file.Files.createTempDirectory("graft-ivfpqapp-test").toString
    val grown = s"$base/grown"
    val oneShot = s"$base/oneshot"
    val (cents, cbs) = Similarity.writeIvfPqIndex(
      embeddings.filter(col("vec_id") % 3 =!= 0), grown, numCentroids = 8)
    val sidecarBefore = java.nio.file.Files.readString(
      java.nio.file.Paths.get(grown, graft.util.IndexSidecar.FileName))
    Similarity.appendIvfPqIndex(spark, embeddings.filter(col("vec_id") % 3 === 0), grown)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(grown, graft.util.IndexSidecar.FileName)) === sidecarBefore)
    // one-shot comparison index through the SAME quantizers (a fresh build
    // would train centroids and codebooks on the full corpus — different
    // geometry), so write it via the same assign+encode+sidecar path
    Similarity.assignCells(embeddings.filter(col("emb").isNotNull)
        .select("vec_id", "emb"), "emb", cents)
      .select(col("vec_id"), Similarity.pqEncode(col("emb"), cbs).as("codes"),
        col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(oneShot)
    graft.util.IndexSidecar.write(oneShot, "ivfpq", Map(
      "centroids" -> graft.util.IndexSidecar.encodeMatrix(cents),
      "m" -> cbs.length.toString, "k" -> cbs.head.length.toString, "iters" -> "1",
      "codebooks" -> cbs.map(graft.util.IndexSidecar.encodeMatrix).mkString("|")))
    val nLive = embeddings.filter(col("emb").isNotNull).count()
    def ans(p: String) = Similarity.ivfPqTopKIndexed(spark, p, embeddings, nLive,
        nprobe = 3, what = "ivfpq_suite", minRecall = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(ans(grown) === ans(oneShot))
    assert(ans(grown).nonEmpty)
  }

  test("readPqIndex fails loudly when the sidecar's declared shape " +
      "disagrees with its codebook matrix") {
    val path = java.nio.file.Files.createTempDirectory("graft-pqbad-test").toString
    val cbs = Similarity.writePqIndex(embeddings, path)
    val props = graft.util.IndexSidecar.read(path, "pq") - "kind"
    // declared m off by one vs the carried codebooks
    graft.util.IndexSidecar.write(path, "pq",
      props + ("m" -> (cbs.length + 1).toString))
    val ex = intercept[IllegalArgumentException] { Similarity.readPqIndex(spark, path) }
    assert(ex.getMessage.contains("codebooks"))
    // declared k off vs the codebook sizes
    graft.util.IndexSidecar.write(path, "pq",
      props + ("k" -> (cbs.head.length - 1).toString))
    intercept[IllegalArgumentException] { Similarity.readPqIndex(spark, path) }
  }

  test("hybridSearch: RRF score is the rank-reciprocal sum, both-modality " +
      "hits outrank equal single-modality ones, pools fuse full-outer") {
    val docs = Tables.documents(spark, sfDir)
    val out = Similarity.hybridSearch(docs, embeddings, poolK = 20, k = 10)
      .collect()
    // 4 queries x 10 fused rows
    assert(out.length === 40)
    val byQ = out.groupBy(_.get(0).toString.toLong)
    assert(byQ.keySet === Set(0L, 1L, 2L, 3L) && byQ.values.forall(_.length === 10))
    out.foreach { r =>
      val (bm, ann) = (Option(r.get(4)).map(_.toString.toInt),
        Option(r.get(5)).map(_.toString.toInt))
      // at least one modality ranked every fused row, and the score is
      // exactly the reciprocal-rank sum of the ranks it carries
      assert(bm.isDefined || ann.isDefined)
      val expect = bm.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        ann.map(x => 1.0 / (60 + x)).getOrElse(0.0)
      assert(r.getDouble(3) === expect, s"row $r")
    }
    // rnk is a dense 1..10 per query in fused-score order
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 10))
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    // a doc top-ranked by BOTH modalities must beat any doc either modality
    // ranked alone at the same depth: 2/(60+1) > 1/(60+1)
    val hasBoth = out.exists(r => !r.isNullAt(4) && !r.isNullAt(5))
    val hasSingle = out.exists(r => r.isNullAt(4) ^ r.isNullAt(5))
    assert(hasBoth || hasSingle) // fusion saw a non-degenerate mix
  }

  test("appendIvfIndex: appended index answers like a one-shot build over " +
      "the union, and the sidecar quantizer survives the append") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val base = graft.util.Fs.processScopedTmpDir("ivf-append-spec").toString
    val grown = s"$base/grown"
    val oneShot = s"$base/oneshot"
    val cIncr = Similarity.writeIvfIndex(emb.filter(col("vec_id") % 3 =!= 0), grown, 8)
    val before = graft.util.IndexSidecar.read(grown, "ivf")("centroids")
    Similarity.appendIvfIndex(spark, emb.filter(col("vec_id") % 3 === 0), grown)
    assert(graft.util.IndexSidecar.read(grown, "ivf")("centroids") === before)
    // one-shot comparison index must share the quantizer (a one-shot build
    // would sample centroids from the full corpus — different geometry),
    // so write it through the same assign+sidecar path
    Similarity.assignCells(emb, "emb", cIncr)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(oneShot)
    graft.util.IndexSidecar.write(oneShot, "ivf", Map(
      "centroids" -> graft.util.IndexSidecar.encodeMatrix(cIncr), "lloydIters" -> "0"))
    val probes = emb.filter(col("vec_id") < 7)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    def ans(p: String) = Similarity.ivfTopKIndexed(spark, p, probes, 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ans(grown) === ans(oneShot))
    assert(ans(grown).nonEmpty)
  }

  test("hardNegatives: label inequality holds and the exhaustive path " +
      "equals the brute-force filtered graph") {
    val got = Similarity.hardNegativesQuery(spark, sfDir).collect()
    val emb = Tables.embeddings(spark, sfDir)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toLong).toMap
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(labels(r.getLong(0)) !== r.getLong(2), s"false negative in $r")
      assert(labels(r.getLong(1)) === r.getLong(2))
    }
    // brute force: all-pairs cosine, drop same-label, top-5 per anchor
    val e = emb.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("emb"),
      col("label").cast("long").as("label"))
    val a = e.select(col("vec_id").as("anchor_id"), col("emb").as("q_emb"),
      col("label").as("anchor_label"))
    val pairs = e.crossJoin(a)
      .filter(col("vec_id") =!= col("anchor_id") && col("label") =!= col("anchor_label"))
      .withColumn("sim", round(Similarity.cosine(col("emb"), col("q_emb")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id")).orderBy(col("sim").desc, col("vec_id"))
    val exact = pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("anchor_id"), col("vec_id"), col("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet === exact)
  }

  test("embeddingOutliers: every vector scored; flags are exactly the " +
      "bottom-decile sims per label") {
    val out = Similarity.embeddingOutliers(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.length === n)
    out.groupBy(_.get(1)).foreach { case (label, rows) =>
      val flagged = rows.filter(_.getBoolean(3)).map(_.getDouble(2))
      val keptMin = rows.filterNot(_.getBoolean(3)).map(_.getDouble(2)).min
      // the flag is a threshold: every flagged sim sits below every kept sim
      assert(flagged.nonEmpty && flagged.max <= keptMin, s"label $label")
      // decile-ish share (interpolated cutoff, ties included)
      val share = flagged.length.toDouble / rows.length
      assert(share >= 0.02 && share <= 0.25, s"label $label share $share")
    }
  }
}
