package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Empty inputs through the size-adaptive operators — the first tick of an
 * incremental pipeline has no history, a freshly-bootstrapped corpus has
 * no pairs, and every one of these paths must return an EMPTY frame with
 * the right schema rather than throw. Both lanes are exercised: an empty
 * input is always under every ceiling (fast path), and the forced knob
 * (ceiling = 0) drives the distributed sibling.
 */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyPairs: DataFrame = Seq.empty[(Long, Long)]
    .toDF("doc_a", "doc_b")

  private def emptyDocs: DataFrame = Seq.empty[(Long, String)]
    .toDF("doc_id", "text")

  private def emptyEmb: DataFrame = Seq.empty[(Long, Array[Double])]
    .toDF("vec_id", "emb")

  test("nearDupClusters: empty pair graph, both lanes") {
    for (forced <- Seq(false, true)) graft.util.FastPaths.forcedIf(forced) {
      val out = Dedup.nearDupClusters(emptyPairs)
      assert(out.columns.toSeq === Seq("doc_id", "cluster_id"))
      assert(out.count() === 0, s"forced=$forced")
    }
  }

  test("pageRank: empty edge table, both lanes") {
    for (forced <- Seq(false, true)) graft.util.FastPaths.forcedIf(forced) {
      val out = PageRank.pageRank(Seq.empty[(Long, Long)].toDF("src_id", "dst_id"))
      assert(out.columns.toSeq === Seq("id", "pr"))
      assert(out.count() === 0, s"forced=$forced")
    }
  }

  test("ngramJaccard: empty corpus, both lanes") {
    for (forced <- Seq(false, true)) graft.util.FastPaths.forcedIf(forced) {
      val out = Dedup.ngramJaccard(emptyDocs)
      assert(out.columns.toSeq === Seq("doc_a", "doc_b", "jaccard"))
      assert(out.count() === 0, s"forced=$forced")
    }
  }

  test("crossNearDups: empty history, empty batch, and both empty") {
    val docs = Seq((1L, "some text to shingle against")).toDF("doc_id", "text")
    assert(Dedup.crossNearDups(emptyDocs, docs).count() === 0)
    assert(Dedup.crossNearDups(docs, emptyDocs).count() === 0)
    assert(Dedup.crossNearDups(emptyDocs, emptyDocs).count() === 0)
  }

  test("simHashNearDups: empty corpus") {
    assert(Dedup.simHashNearDups(emptyDocs).count() === 0)
  }

  test("ivfTopK: non-empty probes against an EMPTY corpus return no neighbors") {
    // the one empty-input case where ivf_assign actually EVALS with zero
    // centroids: probe rows exist, the corpus doesn't — each probe gets an
    // empty cell list, explodes away, and the join yields the empty result
    val probes = Seq((7L, Array(0.1, 0.2))).toDF("query_id", "q_emb")
    val out = Similarity.ivfTopK(emptyEmb, probes, k = 3)
    assert(out.count() === 0)
  }

  test("clusterSample: empty corpus") {
    assert(Similarity.clusterSample(emptyEmb, numCentroids = 4, perCell = 2).count() === 0)
  }

  test("knnGraph: empty corpus, both lanes") {
    for (forced <- Seq(false, true)) graft.util.FastPaths.forcedIf(forced) {
      val out = Similarity.knnGraph(emptyEmb, k = 3, numCentroids = 2, nprobe = 2)
      assert(out.count() === 0, s"forced=$forced")
    }
  }

  test("annPq: empty and all-null corpora yield zero rows with the entry " +
      "schema, not a head-of-empty codebook crash") {
    val out = Similarity.annPqOn(emptyEmb)
    assert(out.columns.toSeq === Seq("query_id", "neighbor_id", "sim"))
    assert(out.count() === 0)
    val allNull = Seq((1L, null.asInstanceOf[Array[Double]]), (2L, null.asInstanceOf[Array[Double]]))
      .toDF("vec_id", "emb")
    assert(Similarity.annPqOn(allNull).count() === 0)
  }
}
