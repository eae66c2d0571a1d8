package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-15 contract enforcement: the preconditions the round-14 verdict
  * and advice found documented-but-unenforced are now gates, with both
  * plan lanes pinned to one answer.
  *
  *  - probe-index unique-id contract: duplicate ids make the broadcast
  *    index INELIGIBLE (the distributed join plan tolerates them), never
  *    a silent wrong-pair answer;
  *  - null probe/corpus embeddings filter identically on the exact and
  *    IVF lanes (bruteForceTopK vs ivfTopK parity);
  *  - embeddingNearDupsExact tolerates null embeddings like its LSH
  *    sibling;
  *  - ivfAssign with zero centroids assigns no cells (empty array), never
  *    the Int.MaxValue sentinel. */
class ContractHardeningSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then"

  test("ngramJaccard: duplicate doc_ids fall through to the join plan and match it") {
    // two rows share id 1 with DIFFERENT texts: the old probe index would
    // bind shingles/sigs to an arbitrary twin (wrong pairs, no error)
    val docs = Seq(
      (1L, s"$base went home quickly"),
      (1L, "completely different text sharing nothing with the others at all"),
      (2L, s"$base went home quickly today"),
      (3L, s"$base went home very quickly")
    ).toDF("doc_id", "text")
    val fastLane = Dedup.ngramJaccard(docs, threshold = 0.3) // gate must detect dups
    val joinLane = graft.util.FastPaths.forced(Dedup.ngramJaccard(docs, threshold = 0.3))
    assert(fastLane.collect().toSet === joinLane.collect().toSet)
    // and with unique ids the same corpus still takes the fast lane
    // producing the join-lane answer (the gate didn't just disable it)
    val uniq = docs.withColumn("doc_id",
      when(col("text").startsWith("completely"), lit(9L)).otherwise(col("doc_id")))
    assert(Dedup.ngramJaccard(uniq, threshold = 0.3).collect().toSet ===
      graft.util.FastPaths.forced(Dedup.ngramJaccard(uniq, threshold = 0.3).collect().toSet))
  }

  test("crossNearDups: duplicate history ids fall through to the join plan and match it") {
    val hist = Seq((1L, s"$base stayed put"), (1L, s"$base left early"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, s"$base stayed put today")).toDF("doc_id", "text")
    val fast = Dedup.crossNearDups(batch, hist, threshold = 0.3)
    val join = graft.util.FastPaths.forced(Dedup.crossNearDups(batch, hist, threshold = 0.3))
    assert(fast.collect().toSet === join.collect().toSet)
    // the join plan emits per history ROW — both duplicate-id rows can pair
    assert(fast.filter(col("old_id") === 1L).count() === join.filter(col("old_id") === 1L).count())
  }

  test("buildHistoryProbeIndex returns None on duplicate ids") {
    val docs = Seq((1L, s"$base one"), (1L, s"$base two")).toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(docs)
    assert(Dedup.buildHistoryProbeIndex(docs, sigs, Dedup.historyLshBands(sigs)).isEmpty)
    // unique ids still build
    val udocs = Seq((1L, s"$base one"), (2L, s"$base two")).toDF("doc_id", "text")
    val usigs = Dedup.minHashSignatures(udocs)
    assert(Dedup.buildHistoryProbeIndex(udocs, usigs, Dedup.historyLshBands(usigs)).nonEmpty)
  }

  test("bruteForceTopK and ivfTopK drop a null probe identically (zero rows, no null sims)") {
    val emb = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 1.0)))
      .toDF("vec_id", "emb")
    val probes = Seq((100L, Array(1.0, 0.05)), (101L, null.asInstanceOf[Array[Double]]))
      .toDF("query_id", "q_emb")
    val brute = Similarity.bruteForceTopK(emb, probes, k = 2)
    val ivf = Similarity.ivfTopK(emb, probes, k = 2, numCentroids = 2, nprobe = 2)
    assert(brute.filter(col("query_id") === 101L).count() === 0)
    assert(ivf.filter(col("query_id") === 101L).count() === 0)
    assert(brute.collect().toSet === ivf.collect().toSet)
    assert(brute.filter(col("sim").isNull).count() === 0)
  }

  test("embeddingNearDupsExact: null embeddings are absent vectors, parity with LSH lane") {
    val emb = Seq(
      (1L, Array(1.0, 0.0, 0.0)), (2L, null.asInstanceOf[Array[Double]]),
      (3L, Array(0.999, 0.01, 0.0)), (4L, Array(0.0, 1.0, 0.0))
    ).toDF("vec_id", "emb")
    val exact = Similarity.embeddingNearDupsExact(emb, threshold = 0.9)
    assert(exact.filter(col("vec_a") === 2L || col("vec_b") === 2L).count() === 0)
    assert(exact.filter(col("vec_a") === 1L && col("vec_b") === 3L).count() === 1)
    val lsh = Similarity.embeddingNearDups(emb, threshold = 0.9)
    // LSH recall can miss pairs but must never see the null row either
    assert(lsh.filter(col("vec_a") === 2L || col("vec_b") === 2L).count() === 0)
  }

  test("ivfAssign with zero centroids assigns no cells (empty array, no sentinel)") {
    val df = Seq((1L, Array(1.0, 0.0))).toDF("vec_id", "emb")
    val out = df.select(graft.functions.GraftFunctions
      .ivfAssign(col("emb"), Array.empty[Array[Double]], 1).as("cells"))
      .collect()
    assert(out.head.getSeq[Int](0).isEmpty)
  }
}
