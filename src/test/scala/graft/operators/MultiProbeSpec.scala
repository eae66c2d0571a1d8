package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-16 multi-probe / adaptive-escalation contracts: the LSH flip
  * probing ([[graft.functions.HyperplaneProbeGenExpr]]), the √-law IVF
  * nprobe, and the adaptive PQ shape — each must resolve to the HISTORICAL
  * behavior at every correctness SF and only engage above it. */
class MultiProbeSpec extends SparkSpec {

  test("adaptiveProbeFlips: zero at the floor, capped at 3 above it") {
    assert(Similarity.adaptiveProbeFlips(4, 4) === 0) // every correctness SF
    assert(Similarity.adaptiveProbeFlips(5, 4) === 1)
    assert(Similarity.adaptiveProbeFlips(7, 4) === 3) // the sf1 decade
    assert(Similarity.adaptiveProbeFlips(12, 4) === 3) // cap holds at any width
  }

  test("adaptiveNprobe: 6 at the correctness-SF K, sqrt-law above, <= K") {
    assert(Similarity.adaptiveNprobe(16) === 6) // every correctness SF
    assert(Similarity.adaptiveNprobe(8) === 6) // below-floor K keeps the floor value
    // sf1 decade: K = 160, ceil(sqrt(36*160/10)) = ceil(sqrt(576)) = 24 —
    // the measured-recall-0.562 operating point recorded in BASELINE.md
    assert(Similarity.adaptiveNprobe(160) === 24)
    assert(Similarity.adaptiveNprobe(17) === math.ceil(math.sqrt(36.0 * 17 / 10.0)).toInt)
    // never exceeds the cell count
    assert(Similarity.adaptiveNprobe(17) <= 17)
    // third-decade boost (round 17): above the last √-law-validated decade
    // (K=160) the depth gains (K/160)^(1/4) — sf10's K=1600 probes 135
    // cells (measured edge recall 0.607 vs 0.480 at the unboosted 76)
    assert(Similarity.adaptiveNprobe(1600) === 135)
    // continuity at the boundary: the boost factor is ~1 just above 160
    assert(Similarity.adaptiveNprobe(161) === 25)
  }

  test("adaptiveLshTables: 16 through sf1, n^rho growth above, capped at 256") {
    // the flips cap binds at bits 7; tables take over one decade further
    // out — L = 16 << ceil(13*delta/20) for delta bits past the knee,
    // holding the measured union recall (~0.9) where 16 tables fell to
    // 0.45 at sf10. Historical 16 at EVERY oracle-checked width.
    assert(Similarity.adaptiveLshTables(4) === 16) // every correctness SF
    assert(Similarity.adaptiveLshTables(7) === 16) // the sf1 decade
    assert(Similarity.adaptiveLshTables(8) === 32)
    assert(Similarity.adaptiveLshTables(9) === 64)
    assert(Similarity.adaptiveLshTables(10) === 64) // the sf10 decade: measured 0.905
    assert(Similarity.adaptiveLshTables(11) === 128)
    assert(Similarity.adaptiveLshTables(12) === 256)
    assert(Similarity.adaptiveLshTables(13) === 256)
    assert(Similarity.adaptiveLshTables(20) === 256) // cap holds at any width
  }

  test("adaptiveLshBits: integer log2 exact at power-of-two boundaries") {
    // the ln-ratio form could land at k-eps exactly at N = 128 * 2^k; the
    // integer form cannot (ADVICE round 15)
    assert(Similarity.adaptiveLshBits(128L << 4, 4) === 4)
    assert(Similarity.adaptiveLshBits((128L << 5) - 1, 4) === 4)
    assert(Similarity.adaptiveLshBits(128L << 5, 4) === 5)
    assert(Similarity.adaptiveLshBits(20000, 4) === 7) // the sf1 decade
    assert(Similarity.adaptiveLshBits(50, 4) === 4)
  }

  test("adaptivePqShape: 16x256 wherever the corpus can donate 256 " +
      "codewords, historical 4x16 below (round-18 sweep)") {
    assert(Similarity.adaptivePqShape(255) === ((4, 16)))
    assert(Similarity.adaptivePqShape(256) === ((16, 256)))
    assert(Similarity.adaptivePqShape(500) === ((16, 256))) // sf0.001/sf0.01
    assert(Similarity.adaptivePqShape(2000) === ((16, 256))) // sf0.1
    assert(Similarity.adaptivePqShape(20000) === ((16, 256))) // the sf1 decade
  }

  test("adaptivePqRerank: 2k floor at correctness SFs, sqrt-law above, " +
      "monotone in N") {
    // 2k floor binds up to n = 400 (sqrt = 20); √N beyond
    assert(Similarity.adaptivePqRerank(0) === 20)
    assert(Similarity.adaptivePqRerank(400) === 20)
    assert(Similarity.adaptivePqRerank(500) === 23) // sf0.001/sf0.01
    assert(Similarity.adaptivePqRerank(2000) === 45) // sf0.1
    assert(Similarity.adaptivePqRerank(20000) === 142) // sf1
    // perfect square: IEEE sqrt exact, ceil is the integer itself
    assert(Similarity.adaptivePqRerank(1048576) === 1024)
    val pts = Seq(100L, 500L, 2000L, 20000L, 200000L, 2000000L)
    assert(pts.map(Similarity.adaptivePqRerank(_)).sliding(2).forall(s => s(0) <= s(1)))
  }

  test("annPq rerank: published sims are EXACT cosines, rows come from the " +
      "PQ shortlist, and rerank can only improve on reconstruction ranking") {
    val dir = sfDir
    val got = graft.operators.Similarity.annPq(spark, dir)
      .select(col("query_id"), col("neighbor_id"), col("sim")).collect()
    assert(got.length === 50) // 5 probes x top-10
    // the published sim must equal the EXACT rounded cosine of the true
    // vectors — the rerank stage's defining property (a reconstruction sim
    // would be lossy and systematically lower)
    val emb = graft.operators.Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val byId = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      math.rint(d / (math.sqrt(na) * math.sqrt(nb)) * 1e4) / 1e4
    }
    got.foreach { r =>
      val expect = cos(byId(r.getLong(0)), byId(r.getLong(1)))
      assert(math.abs(r.getDouble(2) - expect) < 1e-9,
        s"sim for ${r.getLong(0)}->${r.getLong(1)} is not the exact cosine")
    }
    // rerank recall >= plain reconstruction-ranked recall on the same data
    // (the shortlist contains the recon top-10 by construction, and exact
    // reranking within it can only surface better neighbors)
    import graft.operators.Similarity._
    val n = emb.filter(col("emb").isNotNull).count()
    val (m, kc) = adaptivePqShape(n)
    val cbs = pqCodebooksTrained(emb, m, kc, iters = 1) // the shipped codebooks
    val recon = emb.select(col("vec_id"), pqReconstruct(col("emb"), cbs).as("emb"))
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val exact = bruteForceTopK(emb, probes, 10).select("query_id", "neighbor_id")
    val plain = bruteForceTopK(recon, probes, 10).select("query_id", "neighbor_id")
    import spark.implicits._
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("query_id", "neighbor_id")
    val total = exact.count()
    val rerankHits = exact.join(gotPairs, Seq("query_id", "neighbor_id"), "left_semi").count()
    val plainHits = exact.join(plain, Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(rerankHits >= plainHits,
      s"rerank recall $rerankHits/$total below plain PQ ranking $plainHits/$total")
  }

  test("pqCodebooksTrained: fixed-point means land on the 2^-20 grid, " +
      "empty cells keep their donor codeword, iters=0 is the donors") {
    import graft.operators.Similarity._
    val emb = graft.operators.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("emb"))
    val donors = pqCodebooks(emb, m = 4, k = 16)
    val t0 = pqCodebooksTrained(emb, m = 4, k = 16, iters = 0)
    assert(donors.flatMap(_.flatMap(_.toSeq)).toSeq === t0.flatMap(_.flatMap(_.toSeq)).toSeq)
    val t1 = pqCodebooksTrained(emb, m = 4, k = 16, iters = 1)
    assert(t1.length === 4 && t1.forall(_.length === 16))
    // every trained component is floor(Σ/n + 0.5)/2^20 — an exact integer
    // multiple of 2^-20 (the cross-engine determinism contract) OR the
    // donor value verbatim (an empty cell)
    for (i <- t1.indices; c <- t1(i).indices; j <- t1(i)(c).indices) {
      val v = t1(i)(c)(j)
      val onGrid = v * 1048576.0 == math.rint(v * 1048576.0)
      assert(onGrid || v == donors(i)(c)(j),
        s"component ($i,$c,$j)=$v neither on the 2^-20 grid nor a kept donor")
    }
    // training moved at least one codeword (the corpus is not centroidal)
    assert(t1.flatMap(_.flatMap(_.toSeq)).toSeq != donors.flatMap(_.flatMap(_.toSeq)).toSeq)
  }

  test("hyperplaneProbeGen: element 0 IS the home bucket; flips are 1-bit xors") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(0.3, -0.7, 1.1, 0.05)),
      (2L, Array(-0.2, 0.9, -0.4, 0.6)),
      (3L, Array(1.0, 1.0, 1.0, 1.0))
    ).toDF("vec_id", "emb")
    val both = emb.select(
      graft.functions.GraftFunctions.hyperplaneBucketGen(col("emb"), 6, 42L).as("home"),
      graft.functions.GraftFunctions.hyperplaneProbeGen(col("emb"), 6, 42L, 3).as("probes"))
      .collect()
    both.foreach { r =>
      val home = r.getLong(0)
      val probes = r.getSeq[Long](1)
      assert(probes.length === 4)
      assert(probes.head === home, "element 0 must be the home bucket")
      probes.tail.foreach { p =>
        val diff = p ^ home
        assert(java.lang.Long.bitCount(diff) === 1, s"flip must differ in exactly 1 bit: $diff")
        assert(java.lang.Long.numberOfTrailingZeros(diff) < 6, "flipped bit must be a plane bit")
      }
      assert(probes.distinct.length === probes.length, "flipped planes must be distinct")
    }
  }

  test("multi-probe pair stage: flips=0 unchanged; flips>0 is a candidate superset") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0L until 64L).map(i => (i, Array.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "emb")
      .select(col("vec_id"), col("emb"))
    val base = Similarity.embeddingNearDups(emb, threshold = 0.2,
      numTables = 4, bitsPerTable = 5, probeFlips = 0)
      .select("vec_a", "vec_b")
    val probed = Similarity.embeddingNearDups(emb, threshold = 0.2,
      numTables = 4, bitsPerTable = 5, probeFlips = 2)
      .select("vec_a", "vec_b")
    // the probe side can only ADD colliding buckets, and the verify
    // threshold is unchanged, so the pair set grows monotonically
    assert(base.except(probed).count() === 0,
      "flips>0 must be a superset of the home-bucket pair set")
    assert(probed.count() >= base.count())
    // and both lanes of the probed plan agree (fused kernel vs join verify)
    val forced = graft.util.FastPaths.forced(Similarity.embeddingNearDups(emb, threshold = 0.2,
      numTables = 4, bitsPerTable = 5, probeFlips = 2)
      .select("vec_a", "vec_b"))
    assert(probed.except(forced).count() === 0)
    assert(forced.except(probed).count() === 0)
  }

  test("knnGraph pruned probe: escalated nprobe recall >= fixed-nprobe recall") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val emb = (0L until 200L).map(i => (i, Array.fill(8)(rnd.nextGaussian()))).toDF("vec_id", "emb")
    val exact = Similarity.knnGraph(emb, k = 3, numCentroids = 8, nprobe = 8)
      .select("src_id", "neighbor_id").cache()
    val total = exact.count()
    def recallAt(np: Int): Double = {
      val a = Similarity.knnGraph(emb, k = 3, numCentroids = 8, nprobe = np,
        quantizer = Similarity.knuthCentroids)
      exact.join(a, Seq("src_id", "neighbor_id"), "left_semi").count().toDouble / total
    }
    assert(recallAt(4) >= recallAt(2))
  }
}
