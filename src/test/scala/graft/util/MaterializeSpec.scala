package graft.util

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Materialize.cut]] is the fault-tolerance-aware lineage cut the
  * iterative operators (connected components, PageRank) use: RELIABLE
  * checkpoint when the session has a checkpoint dir (the at-scale lane —
  * executor loss must recompute, not fail), localCheckpoint otherwise.
  * Pins that (a) both modes return identical rows, and (b) the
  * pointer-jumping distributed cluster loop is exact under reliable
  * checkpointing too (the configuration a real cluster runs). */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  test("cut returns identical rows with and without a checkpoint dir") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val local = Materialize.cut(df)
    assert(local.collect().toSet === df.collect().toSet)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    try {
      sc.setCheckpointDir(dir.toString)
      val reliable = Materialize.cut(df)
      assert(reliable.collect().toSet === df.collect().toSet)
      // the reliable path actually wrote checkpoint data to the dir
      val walk = java.nio.file.Files.walk(dir)
      val entries = try walk.count() finally walk.close()
      assert(entries > 1, "reliable checkpoint wrote nothing to the checkpoint dir")
    } finally {
      sc.setCheckpointDir(null)
      Fs.deleteRecursively(dir)
    }
  }

  test("cutLineage postfix routes one-shot operator cuts through cut") {
    // round 17: every one-shot .localCheckpoint() in the operator pack was
    // replaced by the .cutLineage() postfix, so a cluster with a checkpoint
    // dir gets executor-loss survival at those sites too. Pins one such
    // operator (minHashNearDups cuts its signature table) end-to-end exact
    // under a reliable dir, and that the postfix honors the dir.
    import Materialize.MaterializeOps
    val sc = spark.sparkContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "an entirely different document about spark catalyst planning"))
      .toDF("doc_id", "text")
    val expected = graft.operators.Dedup.minHashNearDups(docs, threshold = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-ops")
    try {
      sc.setCheckpointDir(dir.toString)
      assert(Seq(1L).toDF("id").cutLineage().collect().map(_.getLong(0)).toSeq == Seq(1L))
      val got = graft.operators.Dedup.minHashNearDups(docs, threshold = 0.5)
        .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
      val walk = java.nio.file.Files.walk(dir)
      val entries = try walk.count() finally walk.close()
      assert(entries > 1, "reliable checkpoint wrote nothing to the checkpoint dir")
    } finally {
      sc.setCheckpointDir(null)
      Fs.deleteRecursively(dir)
    }
  }

  test("distributed nearDupClusters is exact under reliable checkpointing") {
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 10L))
      .toDF("doc_a", "doc_b")
    val expected = graft.operators.Dedup.nearDupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-cc")
    try {
      sc.setCheckpointDir(dir.toString)
      // force the distributed loop (FastPaths.forced) so every
      // Materialize.cut in it takes the reliable-checkpoint branch
      val got = FastPaths.forced(graft.operators.Dedup.nearDupClusters(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(got === expected)
    } finally {
      sc.setCheckpointDir(null)
      Fs.deleteRecursively(dir)
    }
  }
}
