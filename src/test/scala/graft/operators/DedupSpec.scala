package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val planted: DataFrame = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
    Seq(
      (0L, base),
      (1L, base), // exact duplicate of 0
      (2L, base.replace("lazy", "sleepy")), // near-dup of 0
      (3L, "completely different text about spark clusters and distributed joins at scale"),
      (4L, base.replace("quick", "rapid").replace("dog", "hound")), // near-dup of 0
      (5L, "another unrelated document mentioning neither foxes nor dogs at all today")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts and keeps the min id") {
    val r = Dedup.exact(planted).collect()
    assert(r.length === 5) // 6 docs, one exact pair
    val dupRow = r.find(_.getLong(2) === 2L).get
    assert(dupRow.getLong(1) === 0L) // keep_id = min(0,1)
  }

  test("shingleHashes: deterministic, distinct, n-char windows") {
    import spark.implicits._
    val df = Seq((1L, "abcdef"), (2L, "abcdef"), (3L, "ab")).toDF("doc_id", "text")
    val rows = df.select(col("doc_id"), Dedup.shingleHashes(col("text"), 4).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(rows(1) === rows(2)) // deterministic
    assert(rows(1).length === 3) // abcd bcde cdef
    assert(rows(3).isEmpty) // shorter than n
  }

  test("minhash signatures have numHashes entries and equal text gives equal sig") {
    val sigs = Dedup.minHashSignatures(planted, numHashes = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs.values.forall(_.length === 64))
    assert(sigs(0L) === sigs(1L))
  }

  test("minhash LSH finds planted exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minHashNearDups(planted, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // exact pair always survives
    assert(pairs.exists { case (a, b) => Set(a, b).intersect(Set(2L, 4L)).nonEmpty }) // near-dups found
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L || a == 5L || b == 5L })
  }

  test("minhash est_jaccard is 1.0 for identical docs") {
    val r = Dedup.minHashNearDups(planted, threshold = 0.5)
      .filter(col("doc_a") === 0 && col("doc_b") === 1).collect()
    assert(r.length === 1 && r.head.getDouble(2) === 1.0)
  }

  test("non-64 signature lengths band correctly; indivisible split rejected") {
    val pairs = Dedup.minHashNearDups(planted, numHashes = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) }) // no candidate explosion
    assertThrows[IllegalArgumentException] {
      Dedup.lshBands(Dedup.minHashSignatures(planted, numHashes = 50), numBands = 16, numHashes = 50)
    }
  }

  test("minhash plan contains no cartesian product or broadcast nested loop") {
    val plan = Dedup.minHashNearDups(planted).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"bnl join in plan:\n$plan")
  }

  test("simhash: identical docs get identical hashes; near-dups are close in Hamming") {
    val hashes = Dedup.simHashes(planted).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hashes(0L) === hashes(1L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hashes(0L), hashes(2L)) < hamming(hashes(0L), hashes(3L)))
  }

  test("simhash near-dups include the exact pair at hamming 0") {
    val pairs = Dedup.simHashNearDups(planted, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((0L, 1L)).contains(0))
    assert(pairs.keys.forall { case (a, b) => a < b })
  }

  test("simhash128 near-dups include the exact pair at hamming 0, exclude unrelated") {
    val pairs = Dedup.simHashNearDups128(planted, maxHamming = 14, rotations = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((0L, 1L)).contains(0))
    assert(pairs.keys.forall { case (a, b) => a < b })
    assert(!pairs.keys.exists { case (a, b) => Set(a, b).intersect(Set(3L, 5L)).nonEmpty })
  }

  test("simhash128: sub-gram-width docs are dropped, not an all-pairs hamming-0 clique") {
    import spark.implicits._
    // 50 tiny docs that all hash to [0,0] plus one real near-dup pair
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = ((0 until 50).map(i => (i.toLong, "ok")) ++
      Seq((100L, base), (101L, base))).toDF("doc_id", "text")
    val pairs = Dedup.simHashNearDups128(docs, maxHamming = 14, rotations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((100L, 101L))) // no tiny-doc clique (would be 1225 pairs)
  }

  test("simhash128 candidate volume grows ~linearly with corpus size") {
    // sum over band_key of c*(c-1)/2 IS the band-join output size — the
    // cost the round-5 8-bit-band pigeonhole blew up quadratically. With
    // 16-bit keys the ratio across a 10x corpus (500 -> 5000 docs) must
    // track the row ratio, not its square (100x); 3x slack for real dup
    // clusters in the bigger corpus.
    def candidates(dir: String): Long =
      Dedup.simHashBanded128(Tables.documents(spark, dir), rotations = 2)
        .groupBy("band_key").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).collect()(0).getDouble(0).toLong
    val small = candidates("/root/testdata/sf0.001") // 500 docs
    val big = candidates("/root/testdata/sf0.1") // 5000 docs
    assert(small > 0 && big > 0)
    assert(big.toDouble / small <= 30.0,
      s"candidate growth ${big.toDouble / small}x across a 10x corpus (small=$small big=$big) — quadratic blowup")
  }

  test("crossNearDups flags only new-vs-old pairs, never within-set ones") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog every single day again"
    val oldDocs = Seq(
      (1L, base),
      (2L, base + " extra"), // near-dup of 1 — but both are OLD: not reported
      (3L, "completely different text about query planners and shuffles")
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, base + " today"), // near-dup of old 1 and 2 -> flagged
      (11L, base + " today!"), // near-dup of 10 (NEW) and of old 1/2
      (12L, "unrelated fresh content nothing shared with anything at all")
    ).toDF("doc_id", "text")
    val out = Dedup.crossNearDups(newDocs, oldDocs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every reported pair crosses the sets
    out.foreach { case (n, o) => assert(Set(10L, 11L, 12L)(n) && Set(1L, 2L, 3L)(o)) }
    assert(out.contains((10L, 1L)) && out.contains((10L, 2L)))
    assert(out.contains((11L, 1L)))
    assert(!out.exists { case (n, o) => n == 12L || o == 3L })
    // the new-vs-new near-dup pair (10, 11) must NOT appear in any order
    assert(!out.contains((10L, 11L)) && !out.contains((11L, 10L)))
  }

  test("minhash band-join candidate volume is guarded against blowup") {
    // sum over (band, band_hash) of c*(c-1)/2 is the output size of the band
    // join feeding ngram_jaccard / dedup_minhash's verify stage. Two guards:
    //
    // (1) Machinery guard at LONG bands (r=16): the synthetic corpus is
    // word salad over a ~30-word vocabulary, so BACKGROUND pair Jaccard
    // averages 0.28 (measured) and short bands collide quadratically by
    // corpus construction (0.28^4 ≈ 0.6%/band at r=4) — not a machinery
    // defect, and not representative of web corpora (background j ~ 0.01-
    // 0.05, where r=4 is ~linear). At r=16 the background term (0.28^16 ≈
    // 1.5e-9) vanishes, so candidate growth across a 10x corpus tracks the
    // row ratio unless the band keys themselves lost entropy (the r5
    // simhash failure mode: degenerate keys -> n²/|keys| regardless of
    // corpus).
    def candidates(dir: String, bands: Int): Long =
      Dedup.lshBands(
        Dedup.minHashSignatures(Tables.documents(spark, dir)), numBands = bands)
        .groupBy("band", "band_hash").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).collect()(0).getDouble(0).toLong
    val small = candidates("/root/testdata/sf0.001", 4) // 500 docs, r=16
    val big = candidates("/root/testdata/sf0.1", 4) // 5000 docs, r=16
    assert(small > 0 && big > 0)
    assert(big.toDouble / small <= 30.0,
      s"candidate growth ${big.toDouble / small}x across a 10x corpus (small=$small big=$big) — quadratic blowup")
    // (2) Absolute cap at the ENTRY configuration (16 bands, r=4, chosen
    // for oracle-grade recall at the planted near-dup range): measured
    // 1.9M candidates at sf0.1 from the background flood; a retune toward
    // shorter bands (r=2 measures 30.6M) or degenerate keys trips this
    // long before it trips a human reading bench numbers.
    val entry = candidates("/root/testdata/sf0.1", 16)
    assert(entry <= 4000000L,
      s"entry-config candidate volume $entry exceeds the 4M cap — banding retune reintroduced a blowup")
  }

  test("ngram jaccard: exact pair scores 1.0; unrelated pairs filtered") {
    val pairs = Dedup.ngramJaccard(planted, threshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    assert(pairs.contains((0L, 2L))) // near-dup above threshold
    assert(!pairs.keys.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("inverted-index variant: maxDf cap drops ubiquitous shingles") {
    import spark.implicits._
    // 10 docs all sharing one phrase; pair (10,11) additionally near-identical
    val docs = ((0 until 10).map(i => (i.toLong, s"common shared phrase here unique$i")) ++
      Seq((10L, "zz yy xx ww vv uu tt"), (11L, "zz yy xx ww vv uu ss"))).toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardInverted(docs, threshold = 0.3, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the shared-phrase shingles exceed maxDf, so those pairs vanish…
    assert(!capped.exists { case (a, b) => a < 10 && b < 10 })
    // …but the genuinely-similar rare pair survives
    assert(capped.contains((10L, 11L)))
  }

  test("LSH-candidate jaccard agrees with inverted-index jaccard on overlap pairs") {
    val lsh = Dedup.ngramJaccard(planted, threshold = 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val inv = Dedup.ngramJaccardInverted(planted, threshold = 0.4, maxDf = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    lsh.keySet.intersect(inv.keySet).foreach { k => assert(lsh(k) === inv(k)) }
  }

  test("nearDupClusters: chains collapse to one cluster labeled by the min id") {
    import spark.implicits._
    // chain 1-2-3 (transitive), separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("gramCoverage: shared text scores high, unique text scores zero") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog near the riverbank today"
    val corpus = Seq(
      (1L, shared), // every 8-gram of doc 1 occurs in doc 2
      (2L, shared + " with an extra unique tail segment appended here"),
      (3L, "zqxwvutsrqponmlkjihgfedcba entirely disjoint gibberish text block")
    ).toDF("doc_id", "text")
    val out = Dedup.gramCoverage(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._2 === 1.0) // fully covered by doc 2
    assert(out(2L)._2 > 0.0 && out(2L)._2 < 1.0) // shared prefix, unique tail
    assert(out(3L)._2 === 0.0) // nothing shared
    assert(out(1L)._1 > 0)
  }

  test("nearDupClusters: pointer jumping closes a 64-hop chain within maxIter=10") {
    import spark.implicits._
    // a path graph of diameter 64: hop-by-hop propagation needs 64
    // iterations; with path halving the worst label reaches the root
    // in O(log) steps — 10 iterations must suffice
    val pairs = (1L until 65L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // FastPaths.forced runs the DISTRIBUTED loop — this test pins the
    // pointer jumping itself, which the driver fast path would bypass
    val clusters = graft.util.FastPaths.forced(Dedup.nearDupClusters(pairs, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(clusters.size === 65)
    assert(clusters.values.forall(_ === 1L), s"unconverged labels: ${clusters.filter(_._2 != 1L)}")
  }

  test("small-graph union-find path equals the distributed pointer-jumping path") {
    import spark.implicits._
    // chained + branched + singleton-pair components, ids deliberately out
    // of order so min-id labeling is non-trivial
    val pairs = (Seq((50L, 3L), (3L, 40L), (40L, 7L), (90L, 91L), (91L, 12L)) ++
      (100L until 120L).map(i => (i + 1, i))).toDF("doc_a", "doc_b")
    val fast = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val distributed = graft.util.FastPaths.forced(Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(fast === distributed)
    assert(fast(50L) === 3L && fast(7L) === 3L && fast(90L) === 12L && fast(119L) === 100L)
  }

  test("nearDupKeepDecisions keeps exactly the cluster minimum") {
    import spark.implicits._
    val pairs = Seq((5L, 9L), (9L, 7L)).toDF("doc_a", "doc_b")
    val keep = Dedup.nearDupKeepDecisions(pairs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(keep === Map(5L -> true, 7L -> false, 9L -> false))
  }

  test("textLshClusters agrees with dedupMinhashKeep: same partition, cluster-level view") {
    val keep = Dedup.dedupMinhashKeep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val clusters = Dedup.textLshClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(clusters.nonEmpty)
    // the cluster rows are exactly the per-doc rows regrouped: member counts
    // sum to the doc count, every cluster id is its own smallest member
    // (pairs imply >= 2 members), and the flattened member lists reproduce
    // the per-doc assignment
    assert(clusters.map(_._2).sum === keep.size)
    val fromClusters = clusters.flatMap { case (cl, n, members) =>
      val ids = members.split(",").map(_.toLong)
      assert(n >= 2 && ids.length === n.toInt && ids.min === cl,
        s"cluster $cl malformed: n=$n members=$members")
      ids.map(_ -> cl)
    }.toSet
    assert(fromClusters === keep.toSet)
  }

  test("cleanCorpus composes dedup, language, and quality verdicts") {
    val verdicts = Dedup.cleanCorpus(planted, minQuality = 0.1,
      langs = Set("en"), nearDupThreshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    assert(verdicts.size === 6)
    assert(verdicts(0L)) // cluster min, kept
    assert(!verdicts(1L)) // exact dup of 0 → dropped
    assert(verdicts(3L) || verdicts(5L)) // unrelated docs survive dedup
  }

  test("operators run on the real documents table and find the planted near-dups") {
    val pairs = Dedup.minHashNearDups(Tables.documents(spark, sfDir), threshold = 0.5).count()
    assert(pairs > 0)
  }

  test("persisted minhash index reproduces the direct cross-set answer") {
    val docs = Tables.documents(spark, sfDir)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val path = java.nio.file.Files.createTempDirectory("minhash-idx").toString
    Dedup.writeMinhashIndex(history, path)
    val (sigs, (nh, sn, seed)) = Dedup.readMinhashIndex(spark, path)
    assert((nh, sn, seed) === ((64, 4, 42L)))
    val viaIndex = Dedup.crossNearDupsWithHistorySigs(newDocs, history, sigs,
      numHashes = nh, shingleN = sn, seed = seed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Dedup.crossNearDups(newDocs, history)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaIndex === direct)
    assert(viaIndex.nonEmpty)
  }

  test("broadcastBatch micro-batch plan reproduces the default cross-set answer") {
    val docs = Tables.documents(spark, sfDir)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val sigs = Dedup.minHashSignatures(history).localCheckpoint()
    val bands = Some(Dedup.historyLshBands(sigs).localCheckpoint())
    val viaBroadcast = Dedup.crossNearDupsWithHistorySigs(newDocs, history, sigs,
      historyBands = bands, broadcastBatch = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val default = Dedup.crossNearDupsWithHistorySigs(newDocs, history, sigs,
      historyBands = bands)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaBroadcast === default)
    assert(viaBroadcast.nonEmpty)
  }

  test("broadcast probe index reproduces the join-plan cross-set answer") {
    val docs = Tables.documents(spark, sfDir)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val sigs = Dedup.minHashSignatures(history).localCheckpoint()
    val bands = Dedup.historyLshBands(sigs).localCheckpoint()
    val idx = Dedup.buildHistoryProbeIndex(history, sigs, bands)
    assert(idx.nonEmpty) // test corpus sits far under the broadcast ceiling
    val bc = spark.sparkContext.broadcast(idx.get)
    val fused = Dedup.crossNearDupsWithProbeIndex(newDocs, bc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val joined = Dedup.crossNearDupsWithHistorySigs(newDocs, history, sigs,
      historyBands = Some(bands))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fused === joined)
    assert(fused.nonEmpty)
    // param mismatch fails fast, same contract as the historyBands guard
    val e = intercept[IllegalArgumentException] {
      Dedup.crossNearDupsWithProbeIndex(newDocs, bc, numBands = 32)
    }
    assert(e.getMessage.contains("numBands"))
  }

  test("ngramJaccard fused probe plan equals the banded-join plan") {
    val docs = Tables.documents(spark, sfDir)
    def run(forced: Boolean) = graft.util.FastPaths.forcedIf(forced) {
      Dedup.ngramJaccard(docs, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val fused = run(forced = false)
    val joined = run(forced = true) // the distributed join plan
    assert(fused === joined)
    assert(fused.nonEmpty)
  }

  test("one-collect probe-index build handles short/empty/null texts like the join plan") {
    // round-20 internals change: the self-path index is built by ONE fused
    // collect (sig + shingles + band hashes in one projection) — pin the
    // edge contract the old three-collect build enforced: null text is an
    // absent doc, sub-shingle-width text never pairs, twins still pair
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "abc"), // shorter than the shingle width: no shingles
      (4L, null.asInstanceOf[String]), // absent document
      (5L, "a completely different document about distributed dedup")
    ).toDF("doc_id", "text")
    def run(forced: Boolean) = graft.util.FastPaths.forcedIf(forced) {
      Dedup.ngramJaccard(docs, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val fused = run(forced = false)
    assert(fused === run(forced = true))
    assert(fused === Set((1L, 2L, 1.0)))
  }

  test("precomputed history bands from a different band family are rejected") {
    val docs = Tables.documents(spark, sfDir)
    val newDocs = docs.filter(col("doc_id") % 3 === 0)
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val sigs = Dedup.minHashSignatures(history)
    // banded under 32 bands, joined under the default 16: the band hashes
    // would never collide and every duplicate would be silently missed —
    // the call must fail fast instead
    val mismatched = Some(Dedup.historyLshBands(sigs, numBands = 32, numHashes = 64))
    val e = intercept[IllegalArgumentException] {
      Dedup.crossNearDupsWithHistorySigs(newDocs, history, sigs, historyBands = mismatched)
    }
    assert(e.getMessage.contains("numBands=32"))
  }

  test("segmentDedup drops corpus-repeated segments, keeps order, keeps emptied docs") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "a b x y c d"), // segs: "a b" | "x y" | "c d"
      (2L, "x y e f"),     // segs: "x y" | "e f"
      (3L, "x q y r"),     // segs unique — untouched
      (4L, "x y x y"),     // both segs repeated → doc emptied, row kept
      (5L, "p q r")        // odd word count: short tail segment "r"
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, segWords = 2, minCount = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    // "x y" occurs 4 times across docs 1, 2, 4 → every occurrence removed
    assert(out(0) === ((1L, "a b c d", 3L, 1L)))
    assert(out(1) === ((2L, "e f", 2L, 1L)))
    assert(out(2) === ((3L, "x q y r", 2L, 0L)))
    assert(out(3) === ((4L, "", 2L, 2L)))
    assert(out(4) === ((5L, "p q r", 2L, 0L)))
  }

  test("segmentDedup on the real corpus removes something and never broadcasts the repeated set") {
    val docs = Tables.documents(spark, sfDir)
    val out = Dedup.segmentDedup(docs)
    val plan = out.queryExecution.executedPlan.toString
    // the repeated-segment set derives from an aggregate (stats unknowable)
    // — the join back must stay shuffle-hash, not a gambled broadcast
    assert(!plan.contains("BroadcastHashJoin"), s"broadcast of unbounded set:\n$plan")
    val dropped = out.agg(sum("n_dropped")).head().getLong(0)
    assert(dropped > 0, "planted template corpus must contain repeated segments")
  }

  test("dedupBloomIncremental: result == plain anti-join, planted dups all " +
      "dropped, bloom never false-negatives and routes most of the batch " +
      "around the join") {
    val docs = Tables.documents(spark, sfDir)
    val dup = docs.as("a").filter(col("a.doc_id") % 9 === 0)
      .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_id"), col("b.text").as("text"))
    val batch = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 9 =!= 0)
      .select("doc_id", "text").unionByName(dup)
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val out = Dedup.dedupBloomIncremental(batch, history)
    val plain = batch.select(col("doc_id"), md5(col("text")).as("content_hash"))
      .join(history.select(md5(col("text")).as("content_hash")),
        Seq("content_hash"), "left_anti")
      .select("doc_id", "content_hash")
    assert(out.exceptAll(plain).isEmpty && plain.exceptAll(out).isEmpty,
      "bloom-routed result differs from the plain anti-join")
    // every planted duplicate was dropped
    val plantedIds = dup.select("doc_id")
    assert(out.join(plantedIds, Seq("doc_id"), "left_semi").count() === 0,
      "a planted cross-set duplicate survived")
    assert(plantedIds.count() > 0, "test corpus must plant duplicates")
    // routing: no false negatives (definitely-new really absent from
    // history), and the join side is a small slice of the batch
    val (defNew, maybe) = Dedup.bloomRoute(batch, history)
    val hKeys = history.select(md5(col("text")).as("content_hash")).distinct()
    assert(defNew.join(hKeys, Seq("content_hash"), "left_semi").count() === 0,
      "bloom false negative: a definitely-new doc IS in history")
    val nBatch = batch.count().toDouble
    val nDups = plantedIds.count().toDouble
    val nMaybe = maybe.count().toDouble
    // fpp=0.01: allow generous slack over expected fpp * |batch| + dups
    assert(nMaybe <= nDups + 0.1 * nBatch,
      s"bloom routed $nMaybe of $nBatch to the join (dups: $nDups)")
  }

  test("containmentPairs: a quoted fragment scores ~1 against its container " +
      "while Jaccard stays low; direction matters") {
    import spark.implicits._
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (10 to 21).map(i => s"w$i").mkString(" ") // 12 interior words
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val docs = Seq((1L, body), (2L, quote), (3L, other)).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // quote ⊂ body: all 7 of the quote's 6-grams occur in body
    assert(out((2L, 1L)) === 1.0)
    // reverse direction: 7 shared of body's 35 grams = 0.2 < threshold
    assert(!out.contains((1L, 2L)), s"reverse pair must miss threshold: $out")
    assert(!out.keys.exists(p => p._1 == 3L || p._2 == 3L))
    // the motivating contrast: the pair's Jaccard is far below any
    // near-dup threshold (7 shared / 35 union)
    assert(7.0 / 35.0 < 0.5)
  }

  test("ngram_containment entry: every planted quote doc surfaces against " +
      "its container with containment ~1") {
    val out = Dedup.containmentQuery(spark, sfDir).collect()
    val byPair = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val quotes = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") < maxId)
      .select("doc_id").collect().map(_.getLong(0))
    assert(quotes.nonEmpty)
    quotes.foreach { q =>
      val c = byPair.get((q, q + 1))
      assert(c.exists(_ >= 0.5), s"quote $q missing vs container ${q + 1}: $c")
    }
  }

  test("nearDupClusters equals Spark's own recursive-CTE transitive closure " +
      "on the real pair graph (in-engine independent validation)") {
    val pairs = Dedup.minHashNearDupsVerified(
      Tables.documents(spark, sfDir), threshold = 0.7).localCheckpoint()
    val jumped = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.select(col("doc_a"), col("doc_b")).createOrReplaceTempView("graft_nd_pairs")
    // Spark's recursion supports only UNION ALL, so the walk carries a hop
    // cap to terminate on cycles; paths per member ~ cluster_size^cap, fine
    // for the small verified clusters here. If a future corpus pushes the
    // diameter past the cap, the parity assert fails loudly — bump the cap.
    def closure(cap: Int) = spark.sql(
      s"""WITH RECURSIVE edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM graft_nd_pairs
        |  UNION SELECT doc_b, doc_a FROM graft_nd_pairs),
        |reach(id, r, hop) AS (
        |  SELECT a, a, 0 FROM edges
        |  UNION ALL
        |  SELECT x.id, e.b, x.hop + 1 FROM reach x JOIN edges e ON e.a = x.r
        |  WHERE x.hop < $cap)
        |SELECT id, min(r) AS cluster_id FROM reach GROUP BY id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val closed = closure(6)
    assert(closed === closure(7), "closure not converged at the hop cap")
    assert(jumped === closed)
    assert(jumped.nonEmpty)
  }

  test("dedupMinhashBest: same members as the min-id rule, exactly one keep " +
      "per cluster, and the keep has the cluster's max quality") {
    val best = Dedup.dedupMinhashBest(spark, sfDir).collect()
    val keep = Dedup.dedupMinhashKeep(spark, sfDir).collect()
    assert(best.nonEmpty)
    // identical (doc_id, cluster_id) membership — only the survivor differs
    assert(best.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      keep.map(r => (r.getLong(0), r.getLong(1))).toSet)
    val byCluster = best.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, rows) =>
      val kept = rows.filter(_.getBoolean(3))
      assert(kept.length === 1, s"cluster $cid keeps ${kept.length}")
      val maxQ = rows.map(_.getDouble(2)).max
      assert(kept.head.getDouble(2) === maxQ)
      // deterministic tie-break: smallest id among max-quality members
      val tied = rows.filter(_.getDouble(2) == maxQ).map(_.getLong(0)).min
      assert(kept.head.getLong(0) === tied)
    }
  }
}
