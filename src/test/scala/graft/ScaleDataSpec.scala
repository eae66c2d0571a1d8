package graft

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[ScaleData]]'s replication must be ISOMORPHIC per copy — that is what
  * makes growth ratios on the synthesized decade meaningful. Pins:
  * documents keep length/token structure per copy with disjoint cross-copy
  * vocabulary (duplicate density constant, pair counts linear); embedding
  * rotation is orthogonal (norms and within-copy cosines exact); event id
  * offsets never collide across copies; ids stay unique. */
class ScaleDataSpec extends SparkSpec {
  import spark.implicits._

  private val factor = 3

  test("documents: per-copy isomorphism — lengths exact, cross-copy shingles disjoint") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact twin of 1
      (3L, "Entirely different content, with Punctuation!"))
      .toDF("doc_id", "text")
    val scaled = ScaleData.scaleDocuments(docs, factor)
    assert(scaled.count() === 3L * factor)
    assert(scaled.select(col("doc_id")).distinct().count() === 3L * factor)
    // caesar preserves length exactly (n_chars invariance at the source)
    val lens = scaled.withColumn("copy", col("doc_id") % factor)
      .select(col("copy"), length(col("text")).as("len"))
      .groupBy("copy").agg(sum("len").as("s")).select("s")
      .collect().map(_.getLong(0)).toSet
    assert(lens.size === 1, s"per-copy total length must be identical, got $lens")
    // within-copy duplicate structure preserved: docs 1,2 stay exact twins
    // in every copy; cross-copy texts never collide
    val byText = scaled.groupBy("text").agg(count(lit(1)).as("n"))
    assert(byText.filter(col("n") === 2).count() === factor) // one twin pair per copy
    assert(byText.filter(col("n") > 2).count() === 0, "cross-copy texts must not collide")
    // cross-copy word shingles disjoint: the twins pair within copies only
    val pairs = graft.operators.Dedup.ngramJaccard(scaled, threshold = 0.5)
    assert(pairs.count() === factor.toLong) // exactly the per-copy twin pairs
    assert(pairs.filter(col("doc_a") % factor =!= col("doc_b") % factor).count() === 0,
      "no near-dup pair may cross copies")
  }

  test("embeddings: rotation is orthogonal — norms and within-copy cosines exact") {
    val emb = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (2L, Array(0.5f, -1.0f, 2.5f, 0.0f))).toDF("vec_id", "embedding")
    val scaled = ScaleData.scaleEmbeddings(emb, factor)
    assert(scaled.count() === 2L * factor)
    val rows = scaled.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)).toMap
    def norm(a: Array[Float]) = math.sqrt(a.map(x => x.toDouble * x).sum)
    def cos(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum / (norm(a) * norm(b))
    for (k <- 0 until factor) {
      val a = rows(1L * factor + k); val b = rows(2L * factor + k)
      assert(math.abs(norm(a) - norm(rows(factor.toLong))) < 1e-6) // |copy| == |copy 0|
      assert(math.abs(cos(a, b) - cos(rows(factor.toLong), rows(2L * factor))) < 1e-9,
        s"within-copy cosine must be rotation-invariant (copy $k)")
    }
    // rotation actually moved the dimensions (copies are not byte-twins)
    assert(rows(1L * factor + 1).toSeq !== rows(factor.toLong).toSeq)
  }

  test("events: id offsets never collide across copies; timestamps untouched") {
    val ev = Seq(
      (10L, 100L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (11L, 200L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("event_id", "user_id", "ts")
    val scaled = ScaleData.scaleEvents(ev, factor)
    assert(scaled.count() === 2L * factor)
    assert(scaled.select("event_id").distinct().count() === 2L * factor)
    assert(scaled.select("user_id").distinct().count() === 2L * factor)
    // timestamps pass through: every copy holds the same two instants
    assert(scaled.select("ts").distinct().count() === 2)
  }

  test("embeddings: rotation by k mod dim — factor > dim still yields valid rotations") {
    val dim = 4
    val emb = Seq((0L, Array.tabulate(dim)(_.toFloat + 1f)),
      (1L, Array.tabulate(dim)(i => 2f * i - 3f))).toDF("vec_id", "embedding")
    val bigFactor = dim + 3 // k ranges past the dimension
    val scaled = ScaleData.scaleEmbeddings(emb, bigFactor)
    val rows = scaled.select(col("vec_id"), col("embedding")).collect()
    assert(rows.length === 2 * bigFactor)
    rows.foreach { r =>
      val e = r.getSeq[Float](1)
      assert(e.length === dim, s"rotation must preserve dimension, got ${e.length}")
    }
    // norms preserved for every copy, including k >= dim (k mod dim applies)
    val norms = scaled
      .select((col("vec_id") % bigFactor).as("copy"),
        aggregate(col("embedding"), lit(0.0), (a, x) => a + x * x).as("n2"))
      .groupBy("copy").agg(sum("n2").as("s")).select("s")
      .collect().map(r => math.round(r.getDouble(0) * 1e6)).toSet
    assert(norms.size === 1, s"per-copy norm mass must be identical, got $norms")
  }

  test("customer: scaled dim aligns with scaled events — same-attribute match per copy") {
    val events = Seq((100L, 0L), (101L, 2L)).toDF("event_id", "user_id")
    val cust = Seq((0L, "alice", "SEG_A"), (1L, "bob", "SEG_B"), (2L, "carol", "SEG_C"),
      (7L, "unreferenced", "SEG_X")) // key > max user: never matched, dropped
      .toDF("c_custkey", "c_name", "c_mktsegment")
    val sc = ScaleData.scaleCustomer(cust, events, factor)
    // only event-referenced keys (<= max user 2) replicate; keys unique
    assert(sc.count() === 3L * factor)
    assert(sc.select("c_custkey").distinct().count() === 3L * factor)
    assert(sc.filter(col("c_name") === "unreferenced").count() === 0)
    // every scaled event user matches exactly one customer carrying the
    // SOURCE user's attributes (the enrich result is factor relabeled copies)
    val se = ScaleData.scaleEvents(events, factor)
    val joined = se.join(sc, col("user_id") === col("c_custkey"))
    assert(joined.count() === se.count())
    assert(joined.filter(col("user_id") % lit(3L) === 0L) // copies of source user 0
      .filter(col("c_name") =!= "alice").count() === 0)
  }

  test("scaleOrders: every scaled order matches exactly one scaled customer") {
    val orders = (0L until 300L).map(i => (i, i % 90L, i * 10.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val events = Seq((100L, 0L), (101L, 29L)).toDF("event_id", "user_id") // maxUser 29
    val cust = (0L until 90L).map(i => (i, s"c$i", "SEG")).toDF("c_custkey", "c_name", "c_mktsegment")
    val sc = ScaleData.scaleCustomer(cust, events, factor) // keys 0..29 per copy
    val uniform = ScaleData.scaleOrders(orders, events, factor)
    assert(uniform.count() === 300L * factor)
    assert(uniform.select("o_orderkey").distinct().count() === 300L * factor)
    // exact-one-match: the equi-join neither drops nor fans out
    assert(uniform.join(sc, col("o_custkey") === col("c_custkey")).count()
      === 300L * factor)
    assert(uniform.filter(col("o_custkey") === 0L).count() < 300L * factor / 10)
  }

  test("documents: perm cipher keeps composed copy paths distinct where " +
      "composed caesar collides by pigeonhole") {
    // one source doc scaled 10x (caesar, the sf1 stage) then 5x: composed
    // caesar shifts k1+k2 repeat (alphabet 26 but only 14 distinct totals
    // from 50 paths) -> identical-text cliques with quadratic pair mass;
    // the perm cipher (round 17, SPARK_GRAFT_SCALE_CIPHER=perm) keeps all
    // 50 copy-path texts distinct while preserving length and tokenization
    val src = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val stage1 = ScaleData.scaleDocuments(src, 10) // caesar, the committed sf1 mapping
    val caesarComposed = ScaleData.scaleDocuments(stage1, 5)
    val permComposed = ScaleData.scaleDocuments(stage1, 5, permCipher = true)
    assert(caesarComposed.count() === 50L)
    assert(permComposed.count() === 50L)
    // the pigeonhole: composed caesar produces only 14 distinct texts of 50
    assert(caesarComposed.select("text").distinct().count() < 50L)
    // the fix: every perm copy path is textually distinct
    assert(permComposed.select("text").distinct().count() === 50L)
    // same length and whitespace structure (letter-substitution only)
    val lens = permComposed.select(length(col("text"))).distinct().collect()
    assert(lens.length === 1 && lens(0).getInt(0) === 43)
    // k = 0 keeps the stage-1 rows verbatim (source rows survive rescaling)
    val kept = permComposed.join(stage1.select(col("text").as("t1")),
      col("text") === col("t1"), "left_semi").count()
    assert(kept === 10L)
  }

  test("documents: composed PERM stages draw stage-distinct permutation " +
      "families, so cross-stage copy paths never collide") {
    // ADVICE r17: with a k-only perm seed, stages share one permutation
    // family and paths (j, 0) / (0, j) compose to the SAME total mapping —
    // identical texts, the duplicate cliques the cipher exists to prevent.
    // The seed now mixes the stage tag (ScaleData.main passes the source
    // dir's cumulative copy count), so two perm stages at different tags
    // keep ALL factor² copy paths textually distinct.
    val src = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val s1 = ScaleData.scaleDocuments(src, 5, permCipher = true, stage = 1L)
    val composed = ScaleData.scaleDocuments(s1, 5, permCipher = true, stage = 5L)
    assert(composed.count() === 25L)
    assert(composed.select("text").distinct().count() === 25L)
    // counter-pin: the SAME stage tag twice re-plants the collision (paths
    // (j,0) and (0,j) compose to the identical mapping) — this is the
    // failure mode the stage seed removes, kept here as the detector
    val collided = ScaleData.scaleDocuments(s1, 5, permCipher = true, stage = 1L)
    assert(collided.select("text").distinct().count() < 25L)
  }

  test("_scale_meta.json marker: cumulativeCopies reads the synthesizer's " +
      "own output and defaults to 1 for driver-provided dirs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scale-meta").toString
    assert(ScaleData.cumulativeCopies(dir) === 1L) // no marker = driver SF
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_scale_meta.json"),
      """{"copies":10,"cipher":"caesar","factor":10,"src":"/root/testdata/sf0.1"}""")
    assert(ScaleData.cumulativeCopies(dir) === 10L)
  }
}
