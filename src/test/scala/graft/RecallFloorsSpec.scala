package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, Tables}
import graft.util.FastPaths

/**
 * The approximation-quality floors of the eleven approximate query entries.
 * The oracle (`Verify` + the DuckDB replay) holds each entry's rows
 * hash-exact, because it replays the same lossy pipeline; what it cannot
 * see is how far that pipeline is from the exact answer. Each row here
 * names an entry, its floor and its measure, takes the approximate result
 * from `SparkEntry.queries(key)` itself (the plan the oracle and the
 * benchmark run), builds the entry's exact baseline with the entry's own
 * parameters, and asserts the measure against the floor. Every row runs on
 * the three correctness SFs, with the default plans and under
 * [[FastPaths.forced]], and reports the measured value.
 *
 * The floors are set against the synthetic test embeddings (Gaussian, no
 * planted near-dups: top-10 neighbors sit at cosine 0.25-0.5, the hardest
 * regime for LSH/IVF pruning) and the test documents.
 */
class RecallFloorsSpec extends SparkSpec {
  import RecallFloorsSpec._

  /** The three correctness SFs, beside the suites' own sf0.001 dir. */
  private val dirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => new java.io.File(new java.io.File(sfDir).getParentFile, sf).getPath)

  for (row <- Floors; dir <- dirs; forced <- Seq(false, true)) {
    val sf = new java.io.File(dir).getName
    val plans = if (forced) "forced-distributed" else "default"
    test(f"${row.key}: ${row.measure.name} >= ${row.floor}%.2f at $sf, $plans plans") {
      val (hit, total) = FastPaths.forcedIf(forced) {
        row.measure(SparkEntry.queries(row.key)(spark, dir), row.exact(spark, dir))
      }
      val value = if (total == 0) 1.0 else hit.toDouble / total
      info(f"${row.key} $sf $plans: ${row.measure.name} $value%.3f ($hit/$total)")
      assert(value >= row.floor,
        f"${row.key} ${row.measure.name} $value%.3f below floor ${row.floor}%.2f ($hit/$total)")
    }
  }
}

object RecallFloorsSpec {
  /** (hits, total) of an approximate result against its exact baseline. */
  sealed trait Measure {
    def name: String
    def apply(approx: DataFrame, exact: DataFrame): (Long, Long)
  }

  /** The share of the exact result's `keys` tuples the approximate result
    * also holds. */
  final case class Recall(keys: String*) extends Measure {
    def name: String = s"recall on (${keys.mkString(", ")})"
    def apply(approx: DataFrame, exact: DataFrame): (Long, Long) = {
      val e = exact.select(keys.map(col): _*).cache()
      val total = e.count()
      val caught = e.join(approx.select(keys.map(col): _*), keys, "left_semi").count()
      e.unpersist()
      (caught, total)
    }
  }

  /** Over every id the exact result holds (each doc in a true pair), the
    * share whose approximate keep verdict agrees; a doc missing from the
    * approximate pair graph is implicitly kept. */
  case object KeepAgreement extends Measure {
    def name: String = "keep agreement"
    def apply(approx: DataFrame, exact: DataFrame): (Long, Long) = {
      val e = exact.select(col("vec_id"), col("keep").as("keep_exact")).cache()
      val total = e.count()
      val agreed = e
        .join(approx.select(col("vec_id"), col("keep").as("keep_approx")),
          Seq("vec_id"), "left")
        .filter(coalesce(col("keep_approx"), lit(true)) === col("keep_exact"))
        .count()
      e.unpersist()
      (agreed, total)
    }
  }

  final case class Floor(key: String, floor: Double, measure: Measure,
      exact: (SparkSession, String) => DataFrame)

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"))

  /** Exact top-10 of the first five vectors (`vec_id < 5`). */
  private def firstFiveTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Similarity.bruteForceTopK(e,
      e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("emb").as("q_emb")),
      10)
  }

  /** Exact top-10 of the PQ entries' probe set (the five smallest live ids). */
  private def pqProbesTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Similarity.bruteForceTopK(e, Similarity.pqProbes(e), 10)
  }

  /** The exhaustive-nprobe search over the entry's own size-adaptive cells. */
  private def exhaustiveCells(corpus: DataFrame): Int =
    Similarity.adaptiveCentroids(corpus.filter(col("emb").isNotNull).count())

  private val TopK = Recall("query_id", "neighbor_id")

  val Floors: Seq[Floor] = Seq(
    Floor("ann_lsh", 0.7, TopK, firstFiveTopK),
    Floor("ann_ivf_probe", 0.5, TopK, firstFiveTopK),
    Floor("knn_graph_probe", 0.5, Recall("src_id", "neighbor_id"), (spark, dir) => {
      val e = emb(spark, dir)
      val k = exhaustiveCells(e)
      Similarity.knnGraph(e, k = 5, numCentroids = k, nprobe = k)
    }),
    Floor("hard_negatives_probe", 0.5, Recall("anchor_id", "negative_id"), (spark, dir) => {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("emb"),
          col("label").cast("long").as("label"))
      val k = exhaustiveCells(e)
      Similarity.hardNegatives(e, k = 5, numCentroids = k, nprobe = k)
    }),
    // the PQ floor sits >3σ under the weakest measured point with trained
    // codebooks (0.88 at sf0.1 over 50 checked pairs, σ ≈ 0.046) and still
    // fails loudly on a regression to the donor-codebook curve (down to 0.36)
    Floor("ann_pq", 0.6, TopK, pqProbesTopK),
    Floor("ann_pq_indexed", 0.6, TopK, pqProbesTopK),
    Floor("ann_ivfpq_indexed", 0.5, TopK, pqProbesTopK),
    Floor("ann_quantized", 0.85, TopK, firstFiveTopK),
    Floor("embed_neardup", 0.75, Recall("vec_a", "vec_b"),
      (spark, dir) => Similarity.embeddingNearDupsExact(emb(spark, dir), threshold = 0.3)),
    Floor("semantic_dedup", 0.85, KeepAgreement,
      (spark, dir) => Similarity.semanticDedupExact(emb(spark, dir), threshold = 0.4)),
    Floor("dedup_simhash", 0.75, Recall("doc_a", "doc_b"),
      (spark, dir) => Dedup.ngramJaccard(Tables.documents(spark, dir), threshold = 0.9,
        numBands = 16)),
  )
}
