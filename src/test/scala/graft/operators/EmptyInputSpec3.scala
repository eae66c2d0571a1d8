package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Third empty-input batch: snapshots, gram/segment dedup, embedding
  * near-dups (both lanes), corpus utilities, quality filter. */
class EmptyInputSpec3 extends SparkSpec {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyEmb = Seq.empty[(Long, Array[Double])]
    .toDF("vec_id", "emb")

  test("snapshotDiff: empty old, empty new, both empty") {
    val docs = Seq((1L, "alpha")).toDF("doc_id", "text")
    assert(CorpusPipeline.snapshotDiff(emptyDocs, docs)
      .filter(col("status") === "added").count() === 1)
    assert(CorpusPipeline.snapshotDiff(docs, emptyDocs)
      .filter(col("status") === "removed").count() === 1)
    assert(CorpusPipeline.snapshotDiff(emptyDocs, emptyDocs).count() === 0)
  }

  test("gramCoverage / segmentDedup / duplicatePassages: empty corpus") {
    assert(Dedup.gramCoverage(emptyDocs).count() === 0)
    assert(Dedup.segmentDedup(emptyDocs).count() === 0)
    assert(TextAnalysis.duplicatePassages(emptyDocs).count() === 0)
  }

  test("embeddingNearDups: empty corpus, both lanes") {
    for (forced <- Seq(false, true)) graft.util.FastPaths.forcedIf(forced) {
      val out = Similarity.embeddingNearDups(emptyEmb)
      assert(out.count() === 0, s"forced=$forced")
    }
  }

  test("chunkDocuments / corpusSplit / corpusStats / lengthHistogram / qualityFilter: empty corpus") {
    val emptyFull = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "source", "lang", "text")
    assert(CorpusPipeline.chunkDocuments(emptyDocs).count() === 0)
    assert(CorpusPipeline.corpusSplit(emptyFull).count() === 0)
    assert(CorpusPipeline.corpusStats(emptyFull).count() === 0)
    assert(CorpusPipeline.lengthHistogram(emptyDocs).count() === 0)
    assert(CorpusPipeline.qualityFilter(emptyFull).count() === 0)
  }
}
