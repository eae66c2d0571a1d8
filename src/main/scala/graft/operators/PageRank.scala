package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Materialize.MaterializeOps
import org.apache.spark.sql.functions._

/**
 * Fixed-point PageRank over a directed edge table — the centrality pass a
 * curation pipeline runs over a document/embedding similarity graph to
 * find hub documents (heavily-referenced boilerplate scores high, isolated
 * content low; both are curation signals the per-doc kernels can't see).
 *
 * Arithmetic contract: ranks are LONG parts-per-million and every step is
 * integer — contribution = rank div outdeg, update = (1−d)·10^6 +
 * (d_num · Σcontrib) div d_den — so the result is bit-exact across
 * engines, runs, and cluster sizes (float PageRank sums in
 * partition-dependent order; a 4-dp round could still flip on ties, the
 * q29 float-sum hazard class). Truncation loses < 1 ppm per division —
 * ranking-irrelevant, and the published semantics ARE the fixed-point
 * recurrence, which the DuckDB oracle replays iteration by iteration.
 *
 * Scale shape: one outdeg aggregate (edge-bounded), then per iteration a
 * contributions join pinned shuffle-hash on the rank table (rank
 * cardinality derives from the graph — broadcast is not gambled) + one
 * dst-keyed sum, both bounded by |edges|; Materialize.cut severs the
 * iteration lineage exactly as [[Dedup.nearDupClusters]] does. Iteration
 * count is fixed (power iteration, not convergence-polled), so the plan
 * depth is static.
 */
object PageRank {

  /**
   * `iters` rounds of the damped power iteration over `edges`
   * (srcCol, dstCol). Returns (id, rank_ppm) for every node appearing as
   * a source or destination. Damping 0.85 as num/den integers.
   */
  def pageRank(edges: DataFrame, srcCol: String = "src_id", dstCol: String = "dst_id",
      iters: Int = 10, dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iteration count out of range: $iters")
    // size-based plan selection through the edge gate shared with
    // [[Dedup.nearDupClusters]] ([[Dedup.graphPlan]]): under the edge
    // ceiling one bounded collect replaces iters × (join + agg) distributed
    // rounds, and the all-integer recurrence replays bit-exactly on the
    // driver (suite-pinned against the distributed loop). The (often
    // knnGraph-derived) edge pipeline checkpoints once; the distributed plan
    // scans it three ways (nodes, outdeg, withDeg) without re-deriving it.
    Dedup.graphPlan("pagerank", edges, srcCol, dstCol, Seq("id"))(
      smallGraphPageRank(edges.sparkSession, _, iters, dampNum, dampDen),
      distributedPageRank(_, iters, dampNum, dampDen))
  }

  /** The per-iteration join/agg distributed plan of [[pageRank]] — the
    * 100 TB path, type-agnostic over the (src, dst) edge columns. */
  private def distributedPageRank(e: DataFrame,
      iters: Int, dampNum: Int, dampDen: Int): DataFrame = {
    val nodes = graft.util.Materialize.cut(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .distinct())
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // (src, dst, deg) pays the degree join once, not once per iteration
    val withDeg = graft.util.Materialize.cut(e.join(outdeg, "src"))
    val base = (1000000L * (dampDen - dampNum)) / dampDen
    // "pr", not "rank": rank is a window-function keyword inside expr()
    var ranks = nodes.withColumn("pr", lit(1000000L))
    var i = 0
    while (i < iters) {
      val contrib = withDeg
        .join(ranks.hint("shuffle_hash").withColumnRenamed("id", "src"), "src")
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = nodes
        .join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"),
          (lit(base) + expr(s"($dampNum * coalesce(s, CAST(0 AS BIGINT))) div $dampDen")).as("pr"))
      i += 1
      // lineage cut every 3rd iteration (and on the last): each
      // Materialize.cut is an EAGER job (reliable checkpoint when a
      // checkpoint dir is configured — the at-scale lane must survive
      // executor loss — else localCheckpoint), and a 3-iteration join/agg chain
      // is still a shallow plan — per-iteration cuts measured ~25% of the
      // entry's wall time in pure checkpoint jobs
      if (i % 3 == 0 || i == iters) ranks = graft.util.Materialize.cut(ranks)
    }
    ranks
  }

  /** Driver fast path of [[pageRank]]: the identical integer recurrence —
    * contribution = pr div deg per edge, update = base + (dampNum·Σ) div
    * dampDen — over indexed arrays. Division and summation are exact longs,
    * so this is bit-equal to the distributed loop by construction. */
  private def smallGraphPageRank(spark: SparkSession, edges: Array[(Long, Long)],
      iters: Int, dampNum: Int, dampDen: Int): DataFrame = {
    val idx = new java.util.HashMap[java.lang.Long, Integer]()
    def indexOf(id: Long): Int = {
      val got = idx.get(id)
      if (got != null) got.intValue()
      else { val i = idx.size(); idx.put(id, i); i }
    }
    val flat = edges.map { case (a, b) => (indexOf(a), indexOf(b)) }
    val n = idx.size()
    val deg = new Array[Long](n)
    flat.foreach { case (a, _) => deg(a) += 1 }
    val base = (1000000L * (dampDen - dampNum)) / dampDen
    var pr = Array.fill(n)(1000000L)
    (1 to iters).foreach { _ =>
      val s = new Array[Long](n)
      flat.foreach { case (a, b) => s(b) += pr(a) / deg(a) }
      pr = Array.tabulate(n)(i => base + (dampNum * s(i)) / dampDen)
    }
    val ids = new Array[Long](n)
    idx.forEach((id, i) => ids(i.intValue()) = id.longValue())
    import spark.implicits._
    (0 until n).map(i => (ids(i), pr(i))).toDF("id", "pr")
  }

  /**
   * Query entry (oracle-checked): min-hop reachability from anchor vector
   * 0 over the exact 5-NN graph, written as a RECURSIVE CTE — Spark 4's
   * `WITH RECURSIVE` surface driven end to end (the graph comes from the
   * IVF machinery, the walk from the SQL engine; DuckDB replays the
   * identical recursion). UNION ALL + a hop cap bounds the path explosion
   * (≤ 5+25+125+625 rows from one anchor at out-degree 5); min(hop)
   * collapses revisits, so cycles can't recurse unboundedly either.
   * All-integer — no rounding contract.
   */
  def reachabilityQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"))
    // materialize the edges BEFORE the recursion: a temp view is a logical
    // plan, so each recursion level would otherwise re-run the whole IVF
    // graph derivation (measured 11.5s -> 3.4s at sf0.1)
    // dir-scoped view name: temp views are session-global, so a bare name
    // would collide across concurrent queries on different sf dirs
    val view = s"graft_knn_edges_${math.abs(dir.hashCode)}"
    // lazy cut (round 21): the first recursion level's join scans every
    // edge partition, so the edge table materializes inside that level's
    // job instead of paying its own sequential round; levels 2+ read the
    // persisted blocks exactly as before
    Similarity.knnGraph(emb, k = 5, numCentroids = 16, nprobe = 16)
      .select(col("src_id").as("src"), col("neighbor_id").as("dst"))
      .cutLineageLazy()
      .createOrReplaceTempView(view)
    // BROADCAST(w): the walk frontier is bounded by the recursion itself
    // (≤ 5+25+125+625 rows from one anchor at out-degree 5, hop cap 4) at
    // ANY corpus size, so each level joins broadcast-frontier × edge-scan
    // instead of shuffling the edge table per level (guide §3.1). Join
    // strategy never changes the rows.
    // MEASURED AND REJECTED (round 21, verdict #8): disabling AQE for the
    // recursion scope (eager cut inside a save/restore of
    // spark.sql.adaptive.enabled) did cut the per-level re-optimization
    // jobs (29 → 25) but ran the per-level aggregates and the final
    // group/sort at the static 32-partition width — 187 → 563 tasks — and
    // measured SLOWER (isolated 3-iter min 1.85 s vs 1.55 s with the hint
    // alone). AQE's partition coalescing earns its replan rounds here.
    spark.sql(
      s"""WITH RECURSIVE walk(id, hop) AS (
        |  SELECT CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT /*+ BROADCAST(w) */ g.dst, w.hop + 1
        |  FROM walk w JOIN $view g ON g.src = w.id
        |  WHERE w.hop < 4)
        |SELECT id, CAST(min(hop) AS BIGINT) AS hops
        |FROM walk GROUP BY id ORDER BY id""".stripMargin)
  }

  /** Query entry (oracle-checked): 10 fixed-point iterations over the
    * EXACT 5-NN cosine graph ([[Similarity.knnGraph]] at exhaustive
    * nprobe, which provably equals brute force) — the oracle replays the
    * brute-force graph and the 10 integer iterations as chained CTEs. */
  def pageRankQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"))
    val edges = Similarity.knnGraph(emb, k = 5, numCentroids = 16, nprobe = 16)
      .select(col("src_id"), col("neighbor_id"))
    pageRank(edges, "src_id", "neighbor_id", iters = 10)
      .select(col("id").as("vec_id"), col("pr").as("rank_ppm"))
      .orderBy(col("vec_id"))
  }
}
