package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PageRankSpec extends SparkSpec {

  /** Scala reference of the same fixed-point recurrence. */
  private def ref(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var pr = nodes.map(_ -> 1000000L).toMap
    (1 to iters).foreach { _ =>
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => pr(s) / deg(s) }.sum).toMap
      pr = nodes.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    pr
  }

  private val diamond = Seq[(Long, Long)](
    (1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 1L), (5L, 1L))

  test("matches the integer recurrence on a hand graph, every iteration count") {
    import spark.implicits._
    val e = diamond.toDF("src_id", "dst_id")
    Seq(1, 3, 10).foreach { iters =>
      val got = PageRank.pageRank(e, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === ref(diamond, iters), s"iters=$iters")
    }
  }

  test("bit-identical under adversarial partitionings (the determinism contract)") {
    import spark.implicits._
    // FastPaths.forced runs the DISTRIBUTED loop — partitioning only
    // exists there
    val e = diamond.toDF("src_id", "dst_id")
    graft.util.FastPaths.forced {
      val a = PageRank.pageRank(e.repartition(7), iters = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = PageRank.pageRank(e.repartitionByRange(3, col("dst_id")), iters = 5)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a === b)
    }
  }

  test("driver fast path is bit-equal to the distributed loop") {
    import spark.implicits._
    // hub/chain mix: distinct degrees, nodes with no inbound edges, a cycle
    val g = diamond ++ Seq[(Long, Long)]((6L, 4L), (6L, 2L), (2L, 6L), (7L, 6L))
    val e = g.toDF("src_id", "dst_id")
    Seq(1, 4, 10).foreach { iters =>
      val fast = PageRank.pageRank(e, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = graft.util.FastPaths.forced(PageRank.pageRank(e, iters = iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(fast === dist, s"iters=$iters")
      assert(fast === ref(g, iters), s"iters=$iters vs reference")
    }
  }

  test("reachability: anchor at hop 0, hops within the cap, and every id " +
      "reachable in h hops also via some edge from an id at h-1") {
    val out = PageRank.reachabilityQuery(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) === 0L)
    assert(out.values.forall(h => h >= 0 && h <= 4))
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("emb"))
    val edges = Similarity.knnGraph(emb, k = 5, numCentroids = 16, nprobe = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    out.filter(_._2 > 0).foreach { case (id, h) =>
      assert(edges.exists { case (s, d) => d == id && out.get(s).exists(_ == h - 1) },
        s"no hop-${h - 1} predecessor for $id")
    }
  }

  test("entry: every embedding ranked, mass bounded by damping") {
    val out = PageRank.pageRankQuery(spark, sfDir).collect()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.length === n)
    out.foreach { r =>
      val pr = r.getLong(1)
      // floor: a node nobody links to; cap: total mass can never exceed N
      assert(pr >= 150000L && pr <= n * 1000000L)
    }
    // ranks differentiate (a uniform answer would mean the graph was lost)
    assert(out.map(_.getLong(1)).distinct.length > 10)
  }
}
