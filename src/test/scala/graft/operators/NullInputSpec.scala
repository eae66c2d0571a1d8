package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Null-text rows inside non-empty corpora — the dirty-data reality the
  * deser layer tolerates must not crash the operator pack either. The
  * contract pinned here: a null text behaves like an absent document
  * (kernels are null-safe → null/empty outputs; joins and filters drop
  * it), never an NPE. */
class NullInputSpec extends SparkSpec {
  import spark.implicits._

  private def docsWithNull = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, null.asInstanceOf[String]),
    (3L, "the quick brown fox jumps over the lazy dog today")
  ).toDF("doc_id", "text")

  test("dedupExact / dedupMinhash: null text neither pairs nor crashes") {
    assert(Dedup.exact(docsWithNull).count() >= 2)
    val pairs = Dedup.ngramJaccard(docsWithNull, threshold = 0.3)
    assert(pairs.filter(col("doc_a") === 2L || col("doc_b") === 2L).count() === 0)
  }

  test("simHash / winnow / text kernels: null text yields null/no rows") {
    assert(Dedup.simHashNearDups(docsWithNull)
      .filter(col("doc_a") === 2L || col("doc_b") === 2L).count() === 0)
    assert(TextAnalysis.winnowFingerprints(docsWithNull)
      .filter(col("doc_id") === 2L).count() === 0)
  }

  test("vocabTopK / unigramLogProb / bpeMerges: null text contributes nothing") {
    assert(CorpusPipeline.vocabTopK(docsWithNull).count() > 0)
    assert(CorpusPipeline.unigramLogProb(docsWithNull).count() > 0)
    assert(CorpusPipeline.bpeMerges(docsWithNull, nMerges = 2).count() > 0)
  }

  test("crossNearDups: null texts on either side neither pair nor crash") {
    val batch = Seq((10L, "the quick brown fox jumps over the lazy dog"),
      (11L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Dedup.crossNearDups(batch, docsWithNull, threshold = 0.3)
    assert(out.filter(col("new_id") === 11L || col("old_id") === 2L).count() === 0)
    assert(out.filter(col("new_id") === 10L).count() >= 1)
  }

  test("segmentDedup / gramCoverage / duplicatePassages: null text tolerated") {
    assert(Dedup.segmentDedup(docsWithNull)
      .filter(col("doc_id") === 2L).count() === 0)
    Dedup.gramCoverage(docsWithNull).collect() // smoke: aggregate view, no crash
    // aggregate output (fp, n_docs, min_doc, max_doc, ...): the null doc can
    // contribute no fingerprint, so no row may reference doc 2
    assert(TextAnalysis.duplicatePassages(docsWithNull)
      .filter(col("min_doc") === 2L || col("max_doc") === 2L).count() === 0)
  }

  test("knnGraph: a null embedding neither indexes nor crashes, both lanes") {
    val emb = Seq(
      (1L, Array(1.0, 0.0)), (2L, null.asInstanceOf[Array[Double]]),
      (3L, Array(0.9, 0.1)), (4L, Array(0.0, 1.0))
    ).toDF("vec_id", "emb")
    for (forced <- Seq(false, true)) graft.util.FastPaths.forcedIf(forced) {
      val out = Similarity.knnGraph(emb, k = 2, numCentroids = 2, nprobe = 2)
      assert(out.filter(col("src_id") === 2L || col("neighbor_id") === 2L)
        .count() === 0, s"forced=$forced")
      assert(out.filter(col("src_id") === 1L).count() > 0, s"forced=$forced")
    }
  }

  test("knnGraph: zero-norm embeddings rank at similarity 0 identically in both lanes") {
    // failed embedding jobs emit all-zero vectors; the cosine kernel guards
    // the zero norm (sim 0.0, never NaN) and plan selection must not change
    // that
    val emb = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.0, 0.0)),
      (3L, Array(0.9, 0.1)), (4L, Array(0.0, 1.0))
    ).toDF("vec_id", "emb")
    val fast = Similarity.knnGraph(emb, k = 2, numCentroids = 2, nprobe = 2)
      .collect().toSet
    val dist = graft.util.FastPaths.forced(Similarity.knnGraph(emb, k = 2, numCentroids = 2, nprobe = 2)
      .collect().toSet)
    assert(fast === dist)
    assert(fast.forall(r => !r.getDouble(2).isNaN))
    assert(fast.filter(_.getLong(0) == 2L).forall(_.getDouble(2) == 0.0))
  }

  test("blank text (empty / whitespace-only) never pairs and scores zero tokens") {
    // distinct from null: blank text yields EMPTY shingle/token arrays, a
    // shape the kernels and probe index must also tolerate
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, "   \t  "),
      (4L, "the quick brown fox jumps over the lazy dog!")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccard(docs, threshold = 0.3)
    assert(pairs.filter(col("doc_a").isin(2L, 3L) || col("doc_b").isin(2L, 3L))
      .count() === 0)
    assert(pairs.filter(col("doc_a") === 1L && col("doc_b") === 4L).count() === 1)
    assert(CorpusPipeline.budgetSelect(docs, 50)
      .filter(col("doc_id") === 2L && col("n_tokens") =!= 0L).count() === 0)
  }

  test("budgetSelect / chunkDocuments: null text rows are dropped, not fatal") {
    assert(CorpusPipeline.budgetSelect(docsWithNull, budgetTokens = 100)
      .filter(col("doc_id") === 2L).count() === 0)
    assert(CorpusPipeline.chunkDocuments(docsWithNull)
      .filter(col("doc_id") === 2L).count() === 0)
  }
}
