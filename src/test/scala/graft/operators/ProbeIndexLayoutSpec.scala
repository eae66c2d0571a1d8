package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Pins the round-14 primitive-array [[Dedup.HistoryProbeIndex]] layout
 * against a naive map reference built from the SAME frames: every band
 * bucket, signature and shingle set must be reachable through the
 * binary-search accessors exactly as it was through the old boxed maps —
 * the layout change must be invisible to the probe kernel.
 */
class ProbeIndexLayoutSpec extends SparkSpec {

  test("postingsFor/sigFor/shinglesFor reproduce the map-built reference") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).limit(120)
      .select(col("doc_id"), col("text"))
    val sigs = Dedup.minHashSignatures(docs).localCheckpoint()
    val bands = Dedup.historyLshBands(sigs).localCheckpoint()
    val idx = Dedup.buildHistoryProbeIndex(docs, sigs, bands).get

    // naive reference straight off the frames
    val refSigs = sigs.select(col("doc_id"), col("sig"))
      .as[(Long, Array[Long])].collect().toMap
    val refBands = bands.df.select(col("old_id"), col("band"), col("band_hash"))
      .as[(Long, Int, Int)].collect()
      .groupBy(r => (r._2, r._3)).map { case (k, vs) => k -> vs.map(_._1).toSet }
    val refShingles = docs
      .select(col("doc_id"), Dedup.shingleHashes(col("text"), 4).as("shs"))
      .as[(Long, Array[Long])].collect().filter(_._2.nonEmpty).toMap

    assert(idx.numDocs === refSigs.size)
    assert(idx.numBuckets === refBands.size)
    refSigs.foreach { case (id, sig) =>
      assert(idx.sigFor(id).sameElements(sig), s"sig mismatch for $id") }
    refBands.foreach { case ((band, bh), ids) =>
      val got = Option(idx.postingsFor(band, bh)).map(_.toSet).getOrElse(Set.empty[Long])
      assert(got === ids, s"postings mismatch for band=$band hash=$bh") }
    refShingles.foreach { case (id, shs) =>
      assert(idx.shinglesFor(id).sameElements(shs), s"shingles mismatch for $id") }
    // unknown ids / buckets answer null, never throw
    assert(idx.sigFor(-12345L) == null)
    assert(idx.shinglesFor(-12345L) == null)
    assert(idx.postingsFor(9999, 123456) == null)
  }

  test("buildHistoryProbeIndexFused builds the identical index to the signature-frame form") {
    val docs = Tables.documents(spark, sfDir).limit(120)
      .select(col("doc_id"), col("text"))
    val sigs = Dedup.minHashSignatures(docs).localCheckpoint()
    val ref = Dedup.buildHistoryProbeIndex(docs, sigs, Dedup.historyLshBands(sigs)).get
    val fused = Dedup.buildHistoryProbeIndexFused(docs).get
    assert(fused.numDocs === ref.numDocs)
    assert(fused.numBuckets === ref.numBuckets)
    ref.ids.foreach { id =>
      assert(fused.sigFor(id).sameElements(ref.sigFor(id)), s"sig mismatch for $id")
      val r = ref.shinglesFor(id); val f = fused.shinglesFor(id)
      assert((r == null && f == null) || (r != null && f != null && f.sameElements(r)),
        s"shingles mismatch for $id")
    }
    ref.ids.indices.foreach { i =>
      assert(fused.bandHashes(i).sameElements(ref.bandHashes(i)),
        s"band hashes mismatch for ${ref.ids(i)}")
      (0 until ref.numBands).foreach { b =>
        val bh = ref.bandHashes(i)(b)
        assert(fused.postingsFor(b, bh).sameElements(ref.postingsFor(b, bh)),
          s"postings mismatch for band=$b")
      }
    }
  }
}
