package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private lazy val media = {
    import spark.implicits._
    Seq(
      (1L, "image", Multimodal.encodeStub(64, 48, 3)),
      (2L, "image", Multimodal.encodeStub(128, 128, 1)),
      (3L, "video", Multimodal.encodeStub(32, 32, 3)),
      (4L, "image", Array[Byte](1, 2, 3)) // corrupt: too short for a header
    ).toDF("media_id", "modality", "content")
  }

  test("the stub header is width, height, channels as big-endian ints") {
    assert(Multimodal.encodeStub(64, 48, 3).take(12).toSeq ===
      Seq[Byte](0, 0, 0, 64, 0, 0, 0, 48, 0, 0, 0, 3))
    assert(Multimodal.decodeStub(Array[Byte](0, 0, 1, 2, -1, -1, -1, -1, 127, 0, 0, 0)) ===
      ((258, -1, 0x7F000000)))
  }

  test("withDecodedMeta adds a typed struct; corrupt content yields null meta") {
    val out = Multimodal.withDecodedMeta(media)
    assert(out.schema("meta").dataType === Multimodal.MetaType)
    val byId = out.select(col("media_id"), col("meta")).collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(byId(1L).getInt(0) === 64 && byId(1L).getInt(1) === 48 && byId(1L).getInt(2) === 3)
    assert(byId(2L).getInt(0) === 128)
    assert(byId(4L) === null)
  }

  test("decode is a narrow transform — partition count unchanged, no shuffle") {
    val repartitioned = media.repartition(3)
    val out = Multimodal.withDecodedMeta(repartitioned)
    assert(out.rdd.getNumPartitions === 3)
    // decode itself adds no Exchange beyond the explicit repartition
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) === 1)
  }

  test("resize rewrites the header and keeps other columns intact") {
    val out = Multimodal.resize(media.filter(col("media_id") === 1), 16, 16)
    val row = out.collect().head
    val (w, h, c) = Multimodal.decodeStub(row.getAs[Array[Byte]](2))
    assert((w, h, c) === ((16, 16, 3)))
    assert(row.getLong(0) === 1L && row.getString(1) === "image")
  }

  test("resize is deterministic") {
    val a = Multimodal.resize(media, 8, 8).collect().map(_.getAs[Array[Byte]](2).toSeq)
    val b = Multimodal.resize(media, 8, 8).collect().map(_.getAs[Array[Byte]](2).toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("sampleFrames explodes every Nth frame with indices") {
    val out = Multimodal.sampleFrames(media.filter(col("media_id") === 3), frameSize = 100, everyN = 2)
    val rows = out.select(col("frame_idx"), length(col("frame"))).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getInt(0)).forall(_ % 2 === 0))
    // payload = min(32*32*3, 4096) = 3072 bytes → 31 frames → 16 kept (0,2,…,30)
    assert(rows.length === 16)
  }

  test("embedContent emits fixed-dim float vectors, null for null content") {
    val out = Multimodal.embedContent(media, dim = 8)
    assert(out.schema("embedding").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
    val embs = out.select("embedding").collect().map(_.getSeq[Float](0))
    assert(embs.forall(_.length === 8))
    // deterministic
    val again = Multimodal.embedContent(media, dim = 8)
      .select("embedding").collect().map(_.getSeq[Float](0))
    assert(embs.toSeq === again.toSeq)
  }

  test("multimodalFrames entry: even frame indices only, bounded lengths, stable") {
    val rows = Multimodal.multimodalFrames(spark, sfDir).limit(60).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) % 2 === 0) // sampleFrames keeps every 2nd frame
      assert(r.getInt(2) > 0 && r.getInt(2) <= 256)
      // unsigned byte sum of a frame is bounded by 250 * len (stub bytes < 251)
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 250L * r.getInt(2))
    }
  }

  test("full pipeline: decode -> resize -> embed keeps schema contract") {
    val out = Multimodal.embedContent(
      Multimodal.withDecodedMeta(
        Multimodal.resize(media.filter(col("media_id") =!= 4), 16, 16)))
    assert(out.columns.toSeq === Seq("media_id", "modality", "content", "meta", "embedding"))
    assert(out.count() === 3)
    assert(out.filter(col("meta").isNull).count() === 0)
  }

  test("pHash60 locality: a one-byte edit moves <= 2 bits; perturbed twin " +
      "stays inside the hamming<=3 ball for every block position") {
    for (k <- Seq(0, 1, 29, 58); (w, h, c) <- Seq((16, 16, 1), (79, 63, 3))) {
      val a = Multimodal.pHash60(Multimodal.encodeStub(w, h, c))
      val b = Multimodal.pHash60(Multimodal.encodeStubPerturbed(w, h, c, k))
      val ham = java.lang.Long.bitCount(a ^ b)
      assert(ham <= 2, s"k=$k dims=($w,$h,$c): hamming $ham > 2")
      // the perturbation really changed exactly one byte
      val ca = Multimodal.encodeStub(w, h, c)
      val cb = Multimodal.encodeStubPerturbed(w, h, c, k)
      assert(ca.zip(cb).count { case (x, y) => x != y } === 1)
    }
  }

  test("phashNearDups == brute-force all-pairs hamming<=3 (the pigeonhole " +
      "guarantee), twins are found, and the band self-join is shuffle-hash") {
    val pairs = Multimodal.imagePhashDedup(spark, sfDir)
    // brute force over the same hashed table
    val hashed = Multimodal.withPHash(
      Multimodal.imagePhashMediaForTest(spark, sfDir))
      .select(col("media_id"), col("phash"))
    val a = hashed.select(col("media_id").as("media_a"), col("phash").as("ph_a"))
    val b = hashed.select(col("media_id").as("media_b"), col("phash").as("ph_b"))
    val brute = a.join(b, col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).as("hamming"))
      .filter(col("hamming") <= 3)
    assert(pairs.exceptAll(brute).isEmpty && brute.exceptAll(pairs).isEmpty,
      "banded result differs from brute force")
    // every planted twin pairs with its original
    val twinPairs = pairs.filter(col("media_b") === col("media_a") + 1000000L).count()
    val planted = hashed.filter(col("media_id") >= 1000000L).count()
    assert(twinPairs === planted, s"$twinPairs of $planted twins found")
    assert(planted > 0, "test corpus must plant twins")
    // plan: band self-join pinned shuffle-hash, nothing nested-loop
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), s"band join must be shuffle-hash:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"no quadratic join in the LSH plan:\n$plan")
  }
}
