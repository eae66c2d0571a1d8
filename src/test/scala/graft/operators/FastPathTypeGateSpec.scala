package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}

/**
 * Pins the round-14 eligibility contract of every size-adaptive fast path:
 * driver/fused kernels index by primitive Long, so (a) non-integral id
 * columns must fall through to the type-agnostic distributed plan instead
 * of crashing on a silent cast-to-null, and (b) when a fast path DOES
 * trigger, its output id columns cast back to the INPUT id type — plan
 * selection is data-size-driven and must never change the result schema.
 */
class FastPathTypeGateSpec extends SparkSpec {
  import spark.implicits._

  private def pairGraph = Seq((50L, 3L), (3L, 40L), (90L, 91L))
    .toDF("doc_a", "doc_b")

  test("nearDupClusters: string ids run the distributed plan and keep StringType") {
    val pairs = pairGraph.select(
      concat(lit("d"), col("doc_a")).as("doc_a"),
      concat(lit("d"), col("doc_b")).as("doc_b"))
    val out = Dedup.nearDupClusters(pairs)
    assert(out.schema("doc_id").dataType === StringType)
    assert(out.schema("cluster_id").dataType === StringType)
    val m = out.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // min-id labeling under STRING ordering: "d3" < "d40" < "d50"
    assert(m("d50") === "d3" && m("d40") === "d3" && m("d91") === "d90")
  }

  test("nearDupClusters: int ids — fast path and forced-distributed agree on schema and values") {
    val pairs = pairGraph.select(
      col("doc_a").cast("int").as("doc_a"), col("doc_b").cast("int").as("doc_b"))
    val fast = Dedup.nearDupClusters(pairs)
    val dist = graft.util.FastPaths.forced(Dedup.nearDupClusters(pairs))
    assert(fast.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(fast.schema("doc_id").dataType === IntegerType)
    assert(fast.collect().toSet === dist.collect().toSet)
  }

  test("pageRank: int ids — fast path and forced-distributed agree on schema and values") {
    val edges = Seq((1, 2), (2, 3), (3, 1), (2, 1)).toDF("src_id", "dst_id")
    val fast = PageRank.pageRank(edges, iters = 5)
    val dist = graft.util.FastPaths.forced(PageRank.pageRank(edges, iters = 5))
    assert(fast.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(fast.schema("id").dataType === IntegerType)
    assert(fast.collect().toSet === dist.collect().toSet)
  }

  private def smallEmb = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
    .filter(col("vec_id") < 40)

  test("knnGraph: int vec_id — kernel and cell-join paths agree on schema and values") {
    val emb = smallEmb.select(col("vec_id").cast("int").as("vec_id"), col("emb"))
    val fast = Similarity.knnGraph(emb, k = 3, numCentroids = 4, nprobe = 4)
    val dist = graft.util.FastPaths.forced(Similarity.knnGraph(emb, k = 3, numCentroids = 4, nprobe = 4))
    assert(fast.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(fast.schema("src_id").dataType === IntegerType)
    assert(fast.collect().toSet === dist.collect().toSet)
  }

  test("hardNegatives: fused kernel default equals the forced cell-join path") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("emb"),
        col("label").cast("long").as("label"))
    val fast = Similarity.hardNegatives(emb, k = 5, numCentroids = 16, nprobe = 16)
    val dist = graft.util.FastPaths.forced(Similarity.hardNegatives(emb, k = 5, numCentroids = 16, nprobe = 16))
    assert(fast.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(fast.collect().toSet === dist.collect().toSet)
  }

  test("hardNegatives: string labels fall through to the cell join and keep StringType") {
    val emb = smallEmb.withColumn("label", concat(lit("L"), col("vec_id") % 3))
    val out = Similarity.hardNegatives(emb, k = 2, numCentroids = 4, nprobe = 4)
    assert(out.schema("negative_label").dataType === StringType)
    assert(out.count() > 0)
  }

  test("embeddingNearDups: string vec_id falls through to the join verify and keeps StringType") {
    val emb = smallEmb.select(concat(lit("v"), col("vec_id")).as("vec_id"), col("emb"))
    val out = Similarity.embeddingNearDups(emb, threshold = 0.0,
      numTables = 2, bitsPerTable = 2)
    assert(out.schema("vec_a").dataType === StringType)
    assert(out.count() > 0)
  }

  test("ngramJaccard: string doc ids fall through to the banded join plan") {
    val docs = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy dog again and again"),
      ("c", "completely unrelated text with nothing shared at all here"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(docs, threshold = 0.5)
    assert(out.schema("doc_a").dataType === StringType)
    val pairs = out.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs === Set(("a", "b")))
  }

  test("buildHistoryProbeIndex refuses non-integral ids (caller stays on the join plan)") {
    val docs = Seq(("a", "some text here for shingles to hash repeatedly over"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minHashSignatures(docs)
    assert(Dedup.buildHistoryProbeIndex(docs, sigs, Dedup.historyLshBands(sigs)).isEmpty)
  }

  test("embeddingNearDupsExact refuses non-integral vec_id with a clear message") {
    val emb = smallEmb.select(concat(lit("v"), col("vec_id")).as("vec_id"), col("emb"))
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingNearDupsExact(emb, threshold = 0.9)
    }
    assert(e.getMessage.contains("integral"))
  }
}
