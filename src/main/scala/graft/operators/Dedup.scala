package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.util.Materialize.MaterializeOps
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for LLM training-data pipelines.
 *
 * Exact dedup is a hash-groupBy (map-side partial agg, single shuffle on the
 * content hash). Near-dup variants (MinHash-LSH, SimHash, n-gram Jaccard)
 * generate candidates via band/bucket equi-joins — never an all-pairs cross
 * join — so cost scales with duplicate density, not corpus size squared:
 *
 *  - MinHash: signatures built by a custom-expression kernel inside the
 *    scan (zero shuffle); banding turns "similar" into "equal on some
 *    band", a shuffle-join key sized to the threshold.
 *  - SimHash: one 64-bit kernel per row, 4x16-bit band split for
 *    guaranteed Hamming<=3 recall.
 *  - n-gram Jaccard: exact set intersection, verified only on LSH
 *    candidate pairs (inverted-index variant with a df cap as fallback).
 *
 * All hash coefficients derive from a fixed seed — results are deterministic
 * across runs and cluster sizes.
 */
object Dedup {

  /** Exact dedup: one row per distinct content hash, keeping the smallest id. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    exact(Tables.documents(spark, dir)).orderBy(col("text_hash"))

  // ---- shingling ----

  /** Sorted distinct hashes of the whitespace-normalized lowercase character
    * n-gram shingles of `text` — a custom Catalyst expression running one
    * flat JVM loop per row ([[graft.functions.TextHashes]]); the built-in
    * higher-order-function formulation costs thousands of interpreted
    * per-element lambda calls per row. */
  def shingleHashes(text: Column, n: Int = 4): Column =
    graft.functions.GraftFunctions.shingleHashes(text, n)

  // ---- MinHash ----

  /**
   * MinHash signatures: (idCol, sig array<long>[numHashes]).
   * One custom-expression evaluation per row — the whole signature is built
   * inside the scan stage with ZERO shuffle (an explode+groupBy formulation
   * moves |docs|×|shingles| rows through an exchange for nothing, and
   * built-in higher-order functions interpret ~numHashes×shingles lambda
   * calls per row).
   */
  def minHashSignatures(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 64, shingleN: Int = 4, seed: Long = 42L): DataFrame =
    docs
      .select(col(idCol),
        graft.functions.GraftFunctions.minHashSig(col(textCol), shingleN, numHashes, seed).as("sig"))
      .filter(col("sig").isNotNull)

  /** (idCol, band, band_hash): equal band_hash within a band = LSH candidate. */
  def lshBands(signatures: DataFrame, idCol: String = "doc_id",
               numBands: Int = 16, numHashes: Int = 64): DataFrame = {
    require(numHashes % numBands == 0,
      s"numHashes ($numHashes) must be divisible by numBands ($numBands)")
    val rowsPerBand = numHashes / numBands
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("band_hash"))
    }
    signatures
      .select(col(idCol), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.band_hash"))
  }

  /**
   * Band count tuned to the similarity threshold: the LSH catch curve is
   * steepest around t ≈ (1/b)^(r/64·…), so high thresholds want long bands
   * (few, selective) and low thresholds short ones (many, permissive). On
   * template-heavy corpora a too-permissive banding floods the verify stage
   * with false candidates — this is the knob that keeps candidates
   * proportional to true duplicate density.
   */
  def bandsForThreshold(threshold: Double): Int =
    if (threshold >= 0.7) 8 // r=8: j^8 per band
    else if (threshold >= 0.45) 16 // r=4
    else 32 // r=2

  /**
   * Candidate near-dup pairs with signature-estimated Jaccard >= threshold.
   * Candidates come from a band-bucket self-equi-join (shuffle on
   * (band, band_hash)); verification is a per-pair signature-equality kernel
   * run BEFORE any distinct, so the wide dedup shuffle only ever sees pairs
   * that already passed the threshold.
   */
  def minHashNearDups(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 64, numBands: Int = -1, shingleN: Int = 4,
      threshold: Double = 0.7, seed: Long = 42L): DataFrame = {
    val b = if (numBands > 0) numBands else bandsForThreshold(threshold)
    // Materialize.cut, not cache(): each call would otherwise pin a plan in
    // the session CacheManager forever (never unpersisted — a lazy
    // DataFrame-returning operator has no afterwards to unpersist in);
    // checkpoint blocks are context-cleaned once the frame is unreferenced
    val sigs = minHashSignatures(docs, textCol, idCol, numHashes, shingleN, seed)
      .cutLineage()
    val bands = lshBands(sigs, idCol, b, numHashes)
    val sa = sigs.select(col(idCol).as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col(idCol).as("doc_b"), col("sig").as("sig_b"))
    val left = bands.select(col(idCol).as("doc_a"), col("band"), col("band_hash"))
    val right = bands.select(col(idCol).as("doc_b"), col("band"), col("band_hash"))
    // distinct BEFORE attaching signatures: a pair colliding in k bands
    // appears k times out of the band join, and the wide sig join must only
    // see it once (ids are two longs; signatures are 64)
    // shuffle-hash pin: band rows are explode-amplified (numBands x per
    // doc) but carry the pre-explode size estimate, so the planner would
    // happily broadcast a corpus-sized side at mid scale
    left.join(right.hint("shuffle_hash"), Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("est_jaccard",
        graft.functions.GraftFunctions.sigEqualFraction(col("sig_a"), col("sig_b")))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
      // final distinct guards against duplicate doc_id rows in dirty input
      // (duplicate signatures re-multiply pairs through the sig joins);
      // cheap — it runs on the thresholded result
      .distinct()
  }

  /**
   * MinHash-LSH near-dups with exact-Jaccard verification — the production
   * dedup shape: banding proposes candidates, the signature estimate
   * prefilters, the exact shingle-set Jaccard decides. Output is exactly
   * the set of pairs with true Jaccard >= threshold as long as banding
   * recall holds: at 16 bands of 4 rows a pair at the 0.84 floor of the
   * planted near-dup range is missed with p ≈ (1-0.84⁴)¹⁶ ≈ 1.6e-5, so the
   * result is DuckDB-oracle-checkable (the est-only [[minHashNearDups]]
   * output is engine-specific and stays suite-tested).
   *
   * Candidate-volume note: short bands admit background pairs at rate
   * j̄⁴/band, so on a corpus whose BACKGROUND Jaccard is high (the synthetic
   * test corpus measures j̄ ≈ 0.28 — template word salad; boilerplate-heavy
   * web slices behave similarly) the band join floods quadratically. The
   * r=4 choice here buys oracle-grade recall and is suite-guarded by an
   * absolute candidate cap; on a high-background production corpus prefer
   * [[bandsForThreshold]]'s longer bands (background j̄⁸ ≈ 4e-5 is harmless)
   * or strip boilerplate before shingling.
   */
  def minHashNearDupsVerified(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.7): DataFrame =
    ngramJaccard(docs, textCol, idCol, threshold = threshold, numBands = 16)

  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minHashNearDupsVerified(Tables.documents(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  // ---- SimHash ----

  /**
   * 64-bit SimHash per document: sign of the per-bit weighted token-hash
   * sum, computed by one custom-expression kernel per row — stays in the
   * scan stage with no explode/shuffle (an explode + 64-conditional-sum
   * groupBy pays an exchange of every token for the same answer).
   */
  def simHashes(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id")
      : DataFrame =
    docs.select(col(idCol),
      graft.functions.GraftFunctions.simHash64(col(textCol)).as("simhash"))

  /**
   * Near-dup pairs with Hamming distance <= maxHamming (default 3, the
   * 64-bit web-dedup convention). The hash splits into (maxHamming+1)
   * bands; by pigeonhole any pair within maxHamming agrees exactly on >= 1
   * band, so a band equi-join finds ALL of them (guaranteed recall of the
   * Hamming ball); bit_count(xor) verifies. Larger maxHamming = more,
   * shorter bands = more candidates — the precision/recall knob.
   */
  def simHashNearDups(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 31, s"maxHamming out of range: $maxHamming")
    val numBands = maxHamming + 1
    val width = 64 / numBands // last band absorbs the leftover high bits
    // Materialize.cut, not cache(): both self-join sides re-derive the
    // simhash kernel without a cut, and a cache() in a lazy builder pins
    // the plan in the session CacheManager forever (no afterwards to
    // unpersist in — same reasoning as [[ngramJaccard]]). Eager.
    val hashes = simHashes(docs, textCol, idCol).cutLineage()
    val bands = (0 until numBands).map { b =>
      val bits =
        if (b == numBands - 1) shiftrightunsigned(col("simhash"), b * width)
        else shiftright(col("simhash"), b * width)
          .bitwiseAND(lit((1L << width) - 1))
      struct(lit(b).as("band"), bits.as("band_bits"))
    }
    val banded = hashes
      .select(col(idCol), col("simhash"), explode(array(bands: _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band"), col("bb.band_bits"))
    val left = banded.select(col(idCol).as("doc_a"), col("simhash").as("sh_a"),
      col("band"), col("band_bits"))
    val right = banded.select(col(idCol).as("doc_b"), col("simhash").as("sh_b"),
      col("band"), col("band_bits"))
    left.join(right.hint("shuffle_hash"), Seq("band", "band_bits")) // see band-join pin note
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * 128-bit char-gram-SimHash near-dup pairs with Hamming <= maxHamming,
   * found by 32-bit banding: `rotations` x 4 contiguous 32-bit bands
   * (layouts offset around the 128-bit ring), pairs agreeing exactly on
   * >= 1 band verified by bit_count. Unlike the 64-bit pigeonhole (which at
   * Hamming<=7 forces 8-BIT band keys — 256 distinct values, so every band
   * join degenerates to n²/256 candidate pairs, quadratic at scale), every
   * key here keeps 32 bits of entropy: measured on the documents corpus,
   * candidate volume grows 11.7x across a 10x corpus (~linear; the suite
   * asserts the growth rate). Recall of the Hamming ball is probabilistic
   * rather than guaranteed — a pair at distance h survives a given band
   * with p ≈ (1-32/128)^h, and rotations multiply the chances — so the
   * query entry carries an eager measured-recall gate instead.
   */
  /** Banded 128-bit hashes `(id, sh0, sh1, band_key)` — the candidate-join
    * input of [[simHashNearDups128]], exposed so the suite can measure
    * candidate volume (sum of c-choose-2 per band_key) without running the
    * join itself. */
  def simHashBanded128(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      rotations: Int = 2): DataFrame = {
    val hashes = docs
      .select(col(idCol), graft.functions.GraftFunctions.simHash128(col(textCol)).as("sh"))
      .select(col(idCol), element_at(col("sh"), 1).as("sh0"), element_at(col("sh"), 2).as("sh1"))
      // docs shorter than the gram width all hash to [0,0]: they carry no
      // gram signal (their shingle sets are empty, so gram-Jaccard can't
      // call them near-dups either) and, left in, they band-collide on
      // every key — an n² clique of false hamming-0 "duplicates"
      .filter(col("sh0") =!= 0 || col("sh1") =!= 0)
      // Materialize.cut: the kernel is the dominant per-row scan cost and
      // this frame feeds BOTH sides of the band self-join — without it the
      // corpus is scanned and hashed twice. (checkpoint, not cache: blocks
      // are context-cleaned when the frame is collected, no session leak)
      .cutLineage()
    hashes.select(col(idCol), col("sh0"), col("sh1"),
      explode(graft.functions.GraftFunctions.simHashBandKeys128(
        col("sh0"), col("sh1"), rotations)).as("band_key"))
  }

  def simHashNearDups128(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 14, rotations: Int = 2): DataFrame = {
    require(maxHamming >= 1 && maxHamming <= 127, s"maxHamming out of range: $maxHamming")
    val banded = simHashBanded128(docs, textCol, idCol, rotations)
    val left = banded.select(col(idCol).as("doc_a"), col("sh0").as("a0"),
      col("sh1").as("a1"), col("band_key"))
    val right = banded.select(col(idCol).as("doc_b"), col("sh0").as("b0"),
      col("sh1").as("b1"), col("band_key"))
    left.join(right.hint("shuffle_hash"), Seq("band_key")) // see band-join pin note
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("a0").bitwiseXOR(col("b0"))) +
          bit_count(col("a1").bitwiseXOR(col("b1")))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Query entry (rows-only + recall assertion): SimHash bits are
    * engine-specific so the pair set has no SQL oracle; instead the entry
    * eagerly measures recall against the exact char-4-gram Jaccard>=0.9
    * ground truth and throws below the floor. The entry runs the 128-bit
    * char-4-gram kernel at Hamming<=14 with 2x4 32-bit bands: gram features
    * put near-dups at Hamming<=14 and unrelated docs at 33-54 (unigram
    * tokens over this corpus's ~30-word vocabulary collapse — every doc
    * holds nearly the whole vocab, so token-voted hashes are near-equal
    * corpus-wide and ANY banding goes all-pairs), and 32-bit keys make the
    * candidate join ~linear (the round-5 64-bit/8-bit-band pigeonhole was
    * O(n²/256); 16-bit keys still admit ~3% of all pairs). Measured recall
    * 0.893 at sf0.001; floor 0.75 on measured end-to-end recall. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val simPairs = simHashNearDups128(docs, maxHamming = 14, rotations = 3)
    if (Tables.eagerAssertionsEnabled) {
      val truth = ngramJaccard(docs, threshold = 0.9, numBands = 16)
        .select("doc_a", "doc_b").cache()
      val total = truth.count()
      val caught = truth.join(simPairs.select("doc_a", "doc_b"),
        Seq("doc_a", "doc_b"), "left_semi").count()
      truth.unpersist()
      val recall = if (total == 0) 1.0 else caught.toDouble / total
      System.err.println(f"[graft] dedup_simhash measured recall $recall%.3f ($caught/$total)")
      require(recall >= 0.75,
        f"dedup_simhash recall $recall%.3f below floor 0.75 ($caught/$total)")
    }
    simPairs.orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- exact n-gram Jaccard ----

  /**
   * Exact shingle-set Jaccard, verified only on MinHash-LSH candidate pairs:
   * banding proposes candidates (equi-join, never all-pairs), then each
   * distinct pair gets one exact `array_intersect` over the two shingle
   * sets. This is the SURVEY §2c design — at 100 TB the exact verify cost
   * scales with the number of candidate pairs, which banding keeps
   * proportional to the true duplicate density.
   */
  def ngramJaccard(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 4, threshold: Double = 0.5,
      numHashes: Int = 64, numBands: Int = -1, seed: Long = 42L): DataFrame = {
    val b = if (numBands > 0) numBands else bandsForThreshold(threshold)
    // a NULL text is an absent document: it can never pair. The distributed
    // plan drops it naturally (null join keys / exploded null bands never
    // match) but the probe-index fast path collects arrays the kernel
    // indexes into — filter once at the head so BOTH lanes see the same
    // corpus and plan selection cannot change null handling.
    val livedocs = docs.filter(col(textCol).isNotNull)
    // broadcast-ceiling fast path: on a high-background corpus the banded
    // self-join's candidate multiplicity (collision-density pairs → distinct
    // → four wide attach joins) dwarfs the corpus; under the ceiling the
    // whole (bands, sigs, shingles) index broadcasts and every pair is
    // proposed AND verified inside one narrow probe stage — bit-identical
    // output (suite-pinned equality against the join plan below). The gated
    // builder ([[buildHistoryProbeIndexFused]]) runs the census ONCE (one
    // aggregate job at call time — this operator is no longer a fully lazy
    // builder when the fast path is enabled) and builds the index in one
    // collect; the probe-path ids cast back to the input id type, so plan
    // selection never changes the result schema.
    val idDt = docs.schema(idCol).dataType
    buildHistoryProbeIndexFused(livedocs, textCol, idCol, b, numHashes, shingleN, seed)
      .foreach { idx =>
        val bc = docs.sparkSession.sparkContext.broadcast(idx)
        return selfPairsFromIndex(docs.sparkSession, bc, threshold)
          .select(col("doc_a").cast(idDt).as("doc_a"),
            col("doc_b").cast(idDt).as("doc_b"), col("jaccard"))
      }
    // Materialize.cut, not cache(): each call would otherwise pin a plan in
    // the session CacheManager forever (never unpersisted — a lazy
    // DataFrame-returning operator has no afterwards to unpersist in);
    // checkpoint blocks are context-cleaned once the frame is unreferenced.
    // Lazy (round 21): the count() right below is the first action and
    // reads every partition — the sig kernel still runs exactly once, one
    // fewer sequential job round
    val sigs = minHashSignatures(livedocs, textCol, idCol, numHashes, shingleN, seed)
      .cutLineageLazy()
    // size-based side selection for the two attach joins below: the pair
    // set is collision-density-sized (it can exceed the corpus by orders of
    // magnitude on a high-background corpus — 1.75M pairs from 5k docs on
    // the synthetic tables), so when the PER-DOC side is broadcastable the
    // pairs must never shuffle their wide payloads. ~16k docs ≈ 8 MB of
    // signatures / tens of MB of shingle sets; past that both attaches stay
    // shuffle joins (the documented corpus-scale shape).
    val smallCorpus = sigs.count() <= 16384
    def attach(df: DataFrame): DataFrame = if (smallCorpus) broadcast(df) else df
    val bands = lshBands(sigs, idCol, b, numHashes)
    // cheap signature prefilter (slightly below threshold to keep estimate
    // noise from dropping borderline pairs) before the wide shingle-set join
    val est = graft.functions.GraftFunctions.sigEqualFraction(col("sig_a"), col("sig_b"))
    // distinct before the sig joins: band-collision duplicates (up to
    // numBands per pair) must not multiply the wide signature shuffle
    val candidates = bands.select(col(idCol).as("doc_a"), col("band"), col("band_hash"))
      .join(bands.select(col(idCol).as("doc_b"), col("band"), col("band_hash"))
        .hint("shuffle_hash"), // see band-join pin note in minHashNearDups
        Seq("band", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .join(attach(sigs.select(col(idCol).as("doc_a"), col("sig").as("sig_a"))), "doc_a")
      .join(attach(sigs.select(col(idCol).as("doc_b"), col("sig").as("sig_b"))), "doc_b")
      .filter(est >= math.max(0.0, threshold - 0.15))
      .select("doc_a", "doc_b").cutLineage()
    // shingle sets materialize ONLY for docs that survived est-prefilter:
    // at production scale candidates cover a small fraction of the corpus,
    // so the semi-join saves two full-corpus shingle+sort kernel passes
    // (the kernel is the scan cost that multiplies at 100 TB; the extra
    // id-only shuffle is candidate-sized). Checkpointed: the a-side and
    // b-side attaches partition on different keys, so without the barrier
    // the semi-join + shingle kernel would execute TWICE (no exchange reuse
    // across differently-keyed exchanges).
    val candIds = candidates.select(col("doc_a").as(idCol))
      .union(candidates.select(col("doc_b").as(idCol))).distinct()
    val sh = livedocs.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), shingleHashes(col(textCol), shingleN).as("shs"))
      .filter(size(col("shs")) > 0)
      .cutLineage()
    candidates
      .join(attach(sh.select(col(idCol).as("doc_a"), col("shs").as("shs_a"))), "doc_a")
      .join(attach(sh.select(col(idCol).as("doc_b"), col("shs").as("shs_b"))), "doc_b")
      .withColumn("common",
        graft.functions.GraftFunctions.sortedIntersectSize(col("shs_a"), col("shs_b")))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (size(col("shs_a")) + size(col("shs_b")) - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      // guards against duplicate doc_id rows re-multiplying pairs through
      // the signature/shingle joins; cheap on the thresholded result
      .distinct()
  }

  /**
   * Incremental (cross-set) near-dup detection: flag NEW documents whose
   * true Jaccard against any EXISTING document reaches the threshold — the
   * ingestion-time shape of dedup (today's crawl against the historical
   * corpus), which self-join dedup doesn't express. Scale shape: the
   * historical side pays signatures/bands once (in production persist
   * them, the way [[graft.operators.Similarity.writeIvfIndex]] persists
   * cells — signatures are 8x64 bytes/doc, a rounding error next to text),
   * each incoming batch pays signatures for ITS OWN rows plus one band
   * equi-join against the historical bands; history's TEXT is only touched
   * for est-prefiltered verify candidates via a semi-join. Never a
   * self-join of the union, so batch cost scales with batch size x
   * collision density, not corpus size.
   */
  def crossNearDups(newDocs: DataFrame, oldDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 4, threshold: Double = 0.7,
      numHashes: Int = 64, numBands: Int = 16, seed: Long = 42L): DataFrame = {
    // null text = absent document on BOTH sides (see ngramJaccard): the
    // probe kernel indexes collected arrays, so filter before either lane
    val liveNew = newDocs.filter(col(textCol).isNotNull)
    val liveOld = oldDocs.filter(col(textCol).isNotNull)
    // broadcast-ceiling fast path, same gated builder as [[ngramJaccard]]'s:
    // the history side indexes once and the batch probes it in one narrow
    // stage. Both id columns must be integral (the index and the probe
    // kernel are keyed by primitive Long); the builder checks the history
    // side, the batch side is checked here.
    val newDt = newDocs.schema(idCol).dataType
    val oldDt = oldDocs.schema(idCol).dataType
    if (graft.util.IdTypes.integral(newDt))
      buildHistoryProbeIndexFused(liveOld, textCol, idCol, numBands, numHashes, shingleN, seed)
        .foreach { idx =>
          val sc = oldDocs.sparkSession.sparkContext
          return crossNearDupsWithProbeIndex(liveNew, sc.broadcast(idx), textCol, idCol,
              shingleN, threshold, numHashes, numBands, seed,
              probePartitions = sc.defaultParallelism)
            .select(col("new_id").cast(newDt).as("new_id"),
              col("old_id").cast(oldDt).as("old_id"), col("jaccard"))
        }
    val oldSigs = minHashSignatures(liveOld, textCol, idCol, numHashes, shingleN, seed)
      .cutLineage()
    crossNearDupsWithHistorySigs(liveNew, liveOld, oldSigs,
      textCol, idCol, shingleN, threshold, numHashes, numBands, seed)
  }

  /**
   * Persist the history side of the incremental-dedup loop: MinHash
   * signatures written once as parquet (the [[Similarity.writeIvfIndex]]
   * contract for text) — ingestion batches then join via
   * [[crossNearDupsWithHistorySigs]] without ever re-signing history.
   * Config (numHashes/shingleN/seed) rides in a [[graft.util.IndexSidecar]]
   * so a reader can't silently join signatures from a different hash family
   * — or mistake this index for a different kind entirely.
   */
  def writeMinhashIndex(docs: DataFrame, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 64, shingleN: Int = 4, seed: Long = 42L): Unit = {
    minHashSignatures(docs, textCol, idCol, numHashes, shingleN, seed)
      .write.mode("overwrite").parquet(path)
    graft.util.IndexSidecar.write(path, "minhash", Map(
      "numHashes" -> numHashes.toString,
      "shingleN" -> shingleN.toString,
      "seed" -> seed.toString))
  }

  /** (signatures, (numHashes, shingleN, seed)) from [[writeMinhashIndex]]. */
  def readMinhashIndex(spark: SparkSession, path: String): (DataFrame, (Int, Int, Long)) = {
    val cfg = graft.util.IndexSidecar.read(path, "minhash")
    (spark.read.parquet(path),
      (cfg("numHashes").toInt, cfg("shingleN").toInt, cfg("seed").toLong))
  }

  /**
   * Precomputed history band index: the (old_id, band, band_hash) frame PLUS
   * the band-family parameters it was derived with. Bands banded under a
   * different (numBands, numHashes) family produce band_hash keys that never
   * collide with the batch side — missed duplicates with no error — so
   * [[crossNearDupsWithHistorySigs]] validates these against its own args
   * instead of trusting the frame blindly (the in-memory analog of the
   * [[graft.util.IndexSidecar]] contract on persisted indexes).
   */
  final case class HistoryBands(df: DataFrame, idCol: String, numBands: Int, numHashes: Int) {
    /** Checkpoint the frame, keeping the param tags (the ingestion-loop shape:
      * band once, reuse across micro-batches). */
    def localCheckpoint(): HistoryBands = copy(df = df.cutLineage())
  }

  /** The history side of [[crossNearDupsWithHistorySigs]]'s band join in its
    * expected (old_id, band, band_hash) shape — batch-invariant, so an
    * ingestion loop computes it once (and checkpoints it) rather than paying
    * the full-history explode per arriving batch. */
  def historyLshBands(oldSigs: DataFrame, idCol: String = "doc_id",
      numBands: Int = 16, numHashes: Int = 64): HistoryBands =
    HistoryBands(
      lshBands(oldSigs, idCol, numBands, numHashes)
        .select(col(idCol).as("old_id"), col("band"), col("band_hash")),
      idCol, numBands, numHashes)

  /**
   * The broadcast form of a history MinHash index: band buckets, signatures
   * and exact shingle sets as in-memory maps. This is the micro-batch analog
   * of a broadcast hash join — an ingestion tick's batch is tiny and the
   * history is the "dim side" of its dedup probe, so once the index fits the
   * broadcast ceiling every arriving batch dedups in ONE narrow stage (scan →
   * kernel probe → verify), zero exchanges, zero per-batch join planning.
   * Above the ceiling the banded equi-join plan
   * ([[crossNearDupsWithHistorySigs]]) stands — history is unbounded there.
   *
   * Band keys are the SAME Spark `hash(slice(sig,…))` values the distributed
   * band join shuffles on (collected, not re-derived), and the probe side
   * computes its band hashes with the same Column expression — so the
   * candidate set, est-prefilter and exact-Jaccard verify are bit-identical
   * to the join plan (suite-pinned).
   *
   * Input contract: doc ids must be UNIQUE — and the contract is ENFORCED,
   * not just documented: every eligibility gate runs a census
   * (count vs count_distinct, one agg) and duplicate-id corpora fall
   * through to the distributed join plan, which emits per-row; a direct
   * [[collectProbeIndex]] caller trips an adjacent-duplicate fail-fast
   * instead of silently binding sigs/shingles to an arbitrary twin.
   */
  final case class HistoryProbeIndex(
      bandKeys: Array[Long], bandPostings: Array[Array[Long]],
      ids: Array[Long], sigs: Array[Array[Long]], shingles: Array[Array[Long]],
      bandHashes: Array[Array[Int]],
      idCol: String, numBands: Int, numHashes: Int, shingleN: Int) {
    // storage is primitive parallel sorted arrays, NOT Map[Long, _]: a
    // boxed-key map costs 2–4× the payload in entry objects and boxed
    // longs, so a near-ceiling index could blow a default driver heap that
    // the byte estimate said was safe. With flat long arrays the real heap
    // tracks [[probeIndexBytesFor]] (8 B per shingle/sig cell + one array
    // header per doc), and lookups are binary searches — O(log n) with no
    // allocation, cache-friendlier than a hash map's pointer chase.
    def postingsFor(band: Int, bandHash: Int): Array[Long] = {
      val i = java.util.Arrays.binarySearch(bandKeys, bandKey(band, bandHash))
      if (i >= 0) bandPostings(i) else null
    }
    def sigFor(id: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i >= 0) sigs(i) else null
    }
    /** null when the doc is unknown OR had no shingles (empty sets are not
      * stored — same contract as the old filtered map). */
    def shinglesFor(id: Long): Array[Long] = {
      val i = java.util.Arrays.binarySearch(ids, id)
      if (i >= 0) shingles(i) else null
    }
    def numDocs: Int = ids.length
    def numBuckets: Int = bandKeys.length
  }

  @inline private def bandKey(band: Int, bandHash: Int): Long =
    (band.toLong << 32) | (bandHash.toLong & 0xffffffffL)

  /** Collect the history index for [[crossNearDupsWithProbeIndex]], or None
    * when the probe-index gate ([[graft.util.FastPaths.probeIndex]]: one
    * census agg for size, integral ids and unique ids) says the history
    * belongs on the distributed join plan — broadcast-join semantics. The
    * build is three bounded collects, each capped by the gate's ceiling. */
  def buildHistoryProbeIndex(
      oldDocs: DataFrame, oldSigs: DataFrame, bands: HistoryBands,
      textCol: String = "text", shingleN: Int = 4): Option[HistoryProbeIndex] =
    graft.util.FastPaths.probeIndex("dedup.probe_index", oldDocs, textCol, bands.idCol,
        probeIndexBytesFor(_, _, bands.numBands, bands.numHashes)) {
      collectProbeIndex(oldDocs, oldSigs, bands, textCol, shingleN)
    }

  /** [[buildHistoryProbeIndex]] with the fused ONE-collect build (round 21):
    * same gate, then [[collectProbeIndexFused]] computes signatures,
    * shingles and band hashes in a single projection + collect where the
    * signature-frame form pays an extra signature materialization and two
    * sequential collects. The census runs on `oldDocs` as given; the build
    * re-spreads it across cores first ([[graft.util.Spread.ifNarrow]] — a
    * ceiling-sized corpus often arrives in one parquet split, which would
    * serialize every kernel pass). For callers that derive the signatures
    * themselves with these exact params; a caller holding custom-seed
    * signatures stays on [[buildHistoryProbeIndex]]. Content identical by
    * construction (same kernels, same hash(slice(sig,…)) band formula, same
    * sorted layout). */
  def buildHistoryProbeIndexFused(
      oldDocs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      numBands: Int = 16, numHashes: Int = 64, shingleN: Int = 4,
      seed: Long = 42L): Option[HistoryProbeIndex] =
    graft.util.FastPaths.probeIndex("dedup.probe_index", oldDocs, textCol, idCol,
        probeIndexBytesFor(_, _, numBands, numHashes)) {
      collectProbeIndexFused(
        graft.util.Spread.ifNarrow(oldDocs.select(col(idCol), col(textCol))),
        textCol, idCol, numBands, numHashes, shingleN, seed)
    }

  /** Estimated in-memory bytes of a [[HistoryProbeIndex]] over `nDocs`
    * documents of `nChars` text chars in total: ~8 B per shingle (≈ one per
    * text char) + sig/band overhead per doc. */
  private[graft] def probeIndexBytesFor(nDocs: Long, nChars: Long,
      numBands: Int, numHashes: Int): Long =
    // 28 B/band/doc: 24 for the (bandKey, id) posting layout + 4 for the
    // per-doc band-hash row the self-pair probe reads (round 21)
    8L * nChars + (8L * numHashes + 28L * numBands + 64L) * nDocs

  private def collectProbeIndex(
      oldDocs: DataFrame, oldSigs: DataFrame, bands: HistoryBands,
      textCol: String, shingleN: Int): HistoryProbeIndex = {
    val spark = oldSigs.sparkSession
    import spark.implicits._
    // transient boxing during the build is fine (one-time, collect-sized);
    // what matters is the STEADY-STATE layout, which is primitive arrays.
    // ONE collect serves signatures AND band hashes (round 20): the band
    // hashes are the same hash(slice(sig,…)) Column expressions the
    // distributed band join shuffles on ([[lshBands]]'s formula), computed
    // here in the same projection — the previous separate bands.df collect
    // was a second sequential driver job over the same sig table for
    // values derivable in the first. CONTRACT (round-21 advice): bands.df
    // is therefore never read on this path — `bands` contributes only its
    // params (idCol, numBands, numHashes), and a HistoryBands whose frame
    // disagrees with its declared family is overridden by the recomputed
    // hashes, not honored.
    val rowsPerBand = bands.numHashes / bands.numBands
    val sigPairs = oldSigs
      .select(col(bands.idCol).cast("long").as("_1"), col("sig").as("_2"),
        array((0 until bands.numBands).map(b =>
          hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*).as("_3"))
      .as[(Long, Array[Long], Array[Int])].collect().sortBy(_._1)
    val ids = sigPairs.map(_._1)
    // the unique-id precondition is gate-checked upstream (the census of
    // [[graft.util.FastPaths.probeIndex]]); this adjacent scan over the already-sorted
    // collected ids is the zero-cost fail-fast against a direct caller —
    // duplicates would make every binarySearch attach data to an arbitrary
    // twin: wrong pairs, no error
    var dup = 1
    while (dup < ids.length) {
      require(ids(dup) != ids(dup - 1),
        s"probe index requires unique ${bands.idCol} values (id ${ids(dup)} " +
          "appears more than once); dedup ids or use the distributed join plan")
      dup += 1
    }
    val sigArr = sigPairs.map(_._2)
    val shingleArr = new Array[Array[Long]](ids.length)
    oldDocs
      .select(col(bands.idCol).cast("long").as("_1"),
        shingleHashes(col(textCol), shingleN).as("_2"))
      .as[(Long, Array[Long])].collect()
      .foreach { case (id, shs) =>
        if (shs.nonEmpty) {
          val i = java.util.Arrays.binarySearch(ids, id)
          if (i >= 0) shingleArr(i) = shs
        }
      }
    buildProbeIndexFromParts(ids, sigArr, shingleArr, sigPairs.map(_._3),
      bands.idCol, bands.numBands, bands.numHashes, shingleN)
  }

  /** Driver-side assembly shared by [[collectProbeIndex]] and
    * [[collectProbeIndexFused]]: postings from per-doc band-hash arrays
    * (same (bandKey → sorted ids) layout the separate bands.df collect
    * produced — ids ascend within a bucket because docs are visited in
    * sorted-id order). */
  private def buildProbeIndexFromParts(
      ids: Array[Long], sigArr: Array[Array[Long]],
      shingleArr: Array[Array[Long]], bhsArr: Array[Array[Int]],
      idCol: String, numBands: Int, numHashes: Int, shingleN: Int): HistoryProbeIndex = {
    val pairs = new Array[(Long, Long)](ids.length * numBands)
    var n = 0
    var i = 0
    while (i < ids.length) {
      val bhs = bhsArr(i)
      var b = 0
      while (b < numBands) {
        pairs(n) = (bandKey(b, bhs(b)), ids(i))
        n += 1
        b += 1
      }
      i += 1
    }
    val sorted = pairs.sortBy(_._1)
    val postIds = sorted.map(_._2)
    val bandKeys = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bandPostings = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      bandKeys += sorted(i)._1
      bandPostings += java.util.Arrays.copyOfRange(postIds, i, j)
      i = j
    }
    // per-doc band hashes kept alongside (round 21): the self-pair fast
    // path probes FROM the index, so each row's bucket list must be
    // readable without re-running the sig kernels — 4 B per band per doc,
    // charged in [[probeIndexBytesFor]]
    HistoryProbeIndex(
      bandKeys.toArray, bandPostings.toArray, ids, sigArr, shingleArr, bhsArr,
      idCol, numBands, numHashes, shingleN)
  }

  /** ONE-job probe-index build for the self-pair fast path (round 20):
    * signatures, shingles and band hashes are all pure per-row functions of
    * the text, so a single projection computes them together and a single
    * collect builds the index — where the previous shape paid a signature
    * checkpoint job plus THREE sequential collect jobs for the same bytes.
    * Content is identical to [[collectProbeIndex]] over
    * minHashSignatures(docs) by construction (same kernels, same
    * hash(slice(sig,…)) band formula, same sorted layout). */
  private def collectProbeIndexFused(
      docs: DataFrame, textCol: String, idCol: String,
      numBands: Int, numHashes: Int, shingleN: Int, seed: Long): HistoryProbeIndex = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rowsPerBand = numHashes / numBands
    val rows = docs
      .select(col(idCol).cast("long").as("id"),
        graft.functions.GraftFunctions.minHashSig(col(textCol), shingleN, numHashes, seed)
          .as("sig"),
        shingleHashes(col(textCol), shingleN).as("shs"))
      .filter(col("sig").isNotNull)
      .select(col("id"), col("sig"), col("shs"),
        array((0 until numBands).map(b =>
          hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*).as("bhs"))
      .as[(Long, Array[Long], Array[Long], Array[Int])].collect().sortBy(_._1)
    val ids = rows.map(_._1)
    var dup = 1
    while (dup < ids.length) {
      require(ids(dup) != ids(dup - 1),
        s"probe index requires unique $idCol values (id ${ids(dup)} " +
          "appears more than once); dedup ids or use the distributed join plan")
      dup += 1
    }
    // empty shingle sets are not stored (null) — the collectProbeIndex
    // contract, which the verify stage's shsB != null check relies on
    buildProbeIndexFromParts(ids, rows.map(_._2),
      rows.map(r => if (r._3.nonEmpty) r._3 else null), rows.map(_._4),
      idCol, numBands, numHashes, shingleN)
  }

  /** [[crossNearDupsWithHistorySigs]] against a BROADCAST
    * [[HistoryProbeIndex]]: per micro-batch ONE narrow stage — batch scan
    * computes sig + shingles + band hashes (same Column kernels as the join
    * plan), a per-row probe of the broadcast band map yields candidates, the
    * est-prefilter and exact sorted-intersect verify run on the same static
    * [[graft.functions.TextHashes]] kernels the distributed expressions
    * call, and the authoritative round + threshold stay Column expressions.
    * Broadcast ONCE by the caller and reused across batches. */
  def crossNearDupsWithProbeIndex(
      newDocs: DataFrame,
      index: org.apache.spark.broadcast.Broadcast[HistoryProbeIndex],
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 4, threshold: Double = 0.7,
      numHashes: Int = 64, numBands: Int = 16, seed: Long = 42L,
      probePartitions: Int = -1): DataFrame =
    probeVerifiedPairs(newDocs, index, textCol, idCol, shingleN, threshold,
      numHashes, numBands, seed, selfPairs = false, aName = "new_id", bName = "old_id",
      probePartitions = probePartitions)

  /** SELF-pair probe driven from the index ITSELF (round 21): under the
    * ceiling the collected index already holds every probe's signature,
    * shingle set and band hashes, so the pair stage parallelizes the index
    * ROWS instead of re-scanning the corpus — the second full sig+shingle
    * kernel pass over the text (and the (id, text) checkpoint that fed two
    * consumers) disappear. The kernel body is [[probeVerifiedPairs]]' self
    * mode verbatim: same candidate buckets, same per-probe dedup, same
    * est-prefilter and exact sorted-intersect verify, same rounding and
    * threshold Columns — bit-identical output, suite-pinned against the
    * banded join plan like every fast path. */
  private def selfPairsFromIndex(
      spark: SparkSession,
      index: org.apache.spark.broadcast.Broadcast[HistoryProbeIndex],
      threshold: Double): DataFrame = {
    import spark.implicits._
    val n = index.value.numDocs
    val estMin = math.max(0.0, threshold - 0.15)
    val slices = math.max(1, math.min(spark.sparkContext.defaultParallelism, math.max(1, n)))
    spark.sparkContext.parallelize(0 until n, slices)
      .mapPartitions { it =>
        val idx = index.value
        it.flatMap { i =>
          val shsA = idx.shingles(i)
          // empty-shingle docs never probe — the prep-stage size filter of
          // [[probeVerifiedPairs]] (they still sit in postings, where the
          // shsB null check skips them, exactly as before)
          if (shsA == null) Iterator.empty
          else {
            val probeId = idx.ids(i)
            val sig = idx.sigs(i)
            val bhs = idx.bandHashes(i)
            val seen = new java.util.HashSet[java.lang.Long]()
            var b = 0
            while (b < bhs.length) {
              val arr = idx.postingsFor(b, bhs(b))
              if (arr != null) {
                var j = 0
                while (j < arr.length) {
                  // emit each unordered pair once, from its smaller id
                  if (arr(j) > probeId) seen.add(arr(j))
                  j += 1
                }
              }
              b += 1
            }
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int, Int)]
            val iter = seen.iterator()
            while (iter.hasNext) {
              val otherId = iter.next().longValue()
              if (graft.functions.TextHashes.sigEqualFraction(sig, idx.sigFor(otherId)) >= estMin) {
                val shsB = idx.shinglesFor(otherId)
                if (shsB != null) {
                  val common = graft.functions.TextHashes.sortedIntersectSize(shsA, shsB)
                  out += ((probeId, otherId, common, shsA.length, shsB.length))
                }
              }
            }
            out
          }
        }
      }
      .toDF("doc_a", "doc_b", "common", "size_a", "size_b")
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("size_a") + col("size_b") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      // parity with the join plans' trailing distinct (no-op here: the
      // index gate enforces unique ids)
      .distinct()
  }

  /** SELF-pair form of [[crossNearDupsWithProbeIndex]]: the corpus probes its
    * own broadcast index, emitting each a<b pair once — the fused plan for
    * [[ngramJaccard]] under the broadcast ceiling, where the banded
    * self-join's candidate multiplicity (distinct over collision-density
    * pairs, then four wide attach joins) is the dominant cost. */
  def nearDupsWithProbeIndex(
      docs: DataFrame,
      index: org.apache.spark.broadcast.Broadcast[HistoryProbeIndex],
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 4, threshold: Double = 0.5,
      numHashes: Int = 64, numBands: Int = 16, seed: Long = 42L,
      probePartitions: Int = -1): DataFrame =
    probeVerifiedPairs(docs, index, textCol, idCol, shingleN, threshold,
      numHashes, numBands, seed, selfPairs = true, aName = "doc_a", bName = "doc_b",
      probePartitions = probePartitions)

  private def probeVerifiedPairs(
      probeDocs: DataFrame,
      index: org.apache.spark.broadcast.Broadcast[HistoryProbeIndex],
      textCol: String, idCol: String, shingleN: Int, threshold: Double,
      numHashes: Int, numBands: Int, seed: Long,
      selfPairs: Boolean, aName: String, bName: String,
      probePartitions: Int): DataFrame = {
    val iv = index.value
    require(graft.util.IdTypes.integral(probeDocs.schema(idCol).dataType),
      s"the probe kernel is keyed by primitive Long ids; probe column $idCol " +
        s"has type ${probeDocs.schema(idCol).dataType} — use the distributed " +
        "join plan (crossNearDupsWithHistorySigs / ngramJaccard) for " +
        "non-integral ids")
    require(iv.idCol == idCol && iv.numBands == numBands &&
        iv.numHashes == numHashes && iv.shingleN == shingleN,
      s"probe index was built with (idCol=${iv.idCol}, numBands=${iv.numBands}, " +
        s"numHashes=${iv.numHashes}, shingleN=${iv.shingleN}) but this call uses " +
        s"(idCol=$idCol, numBands=$numBands, numHashes=$numHashes, shingleN=$shingleN)")
    val spark = probeDocs.sparkSession
    import spark.implicits._
    val rowsPerBand = numHashes / numBands
    // the probe kernel is CPU work proportional to bucket collision density;
    // a corpus that arrives in a handful of parquet splits would run it on a
    // handful of cores. The re-spread rows are (id, text) only and the probe
    // plan is ceiling-bounded by construction, so the exchange is bounded by
    // the broadcast ceiling — callers with pre-spread input (a micro-batch
    // off an 8-queue source) leave it at -1
    val spread = if (probePartitions > 0) probeDocs.repartition(probePartitions)
      else probeDocs
    val prep = spread
      .select(col(idCol).cast("long").as("probe_id"),
        graft.functions.GraftFunctions.minHashSig(col(textCol), shingleN, numHashes, seed)
          .as("sig"),
        shingleHashes(col(textCol), shingleN).as("shs_a"))
      .filter(col("sig").isNotNull && size(col("shs_a")) > 0)
      .select(col("probe_id"), col("sig"), col("shs_a"),
        array((0 until numBands).map(b =>
          hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*).as("bhs"))
    val estMin = math.max(0.0, threshold - 0.15)
    prep.as[(Long, Array[Long], Array[Long], Array[Int])]
      .mapPartitions { it =>
        val idx = index.value
        it.flatMap { case (probeId, sig, shsA, bhs) =>
          val seen = new java.util.HashSet[java.lang.Long]()
          var b = 0
          while (b < bhs.length) {
            val arr = idx.postingsFor(b, bhs(b))
            if (arr != null) {
              var i = 0
              while (i < arr.length) {
                // self mode: emit each unordered pair once, from its smaller id
                if (!selfPairs || arr(i) > probeId) seen.add(arr(i))
                i += 1
              }
            }
            b += 1
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Int, Int)]
          val iter = seen.iterator()
          while (iter.hasNext) {
            val otherId = iter.next().longValue()
            if (graft.functions.TextHashes.sigEqualFraction(sig, idx.sigFor(otherId)) >= estMin) {
              val shsB = idx.shinglesFor(otherId)
              if (shsB != null) {
                val common = graft.functions.TextHashes.sortedIntersectSize(shsA, shsB)
                out += ((probeId, otherId, common, shsA.length, shsB.length))
              }
            }
          }
          out
        }
      }
      .toDF(aName, bName, "common", "size_a", "size_b")
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("size_a") + col("size_b") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select(aName, bName, "jaccard")
      // duplicate-id parity with the join plans' trailing distinct (cheap:
      // thresholded-result-sized)
      .distinct()
  }

  /** [[crossNearDups]] against PRECOMPUTED history signatures — the
    * ingestion-loop shape: the historical corpus pays its signatures once
    * (checkpointed here, parquet-persisted via [[writeMinhashIndex]] in
    * production) and every arriving batch joins against that index
    * instead of re-signing history per batch.
    *
    * `broadcastBatch = true` is the MICRO-BATCH plan: when the new side is
    * trigger-bounded (a stream's `maxRowsPerTrigger`, an ingestion tick) it
    * broadcasts, so every history-side frame — bands, signatures, candidate
    * text — streams MAP-SIDE with zero history shuffle per batch. The
    * default shuffle-hash plan moves the full history band set through an
    * exchange on every call, which is the dominant recurring cost of an
    * ingestion loop at corpus scale (history is unbounded; the batch is
    * not). Leave it false when the "batch" is itself corpus-sized (the
    * one-shot `dedup_incremental` split), where broadcasting would OOM the
    * executors. */
  def crossNearDupsWithHistorySigs(newDocs: DataFrame, oldDocs: DataFrame,
      oldSigs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 4, threshold: Double = 0.7,
      numHashes: Int = 64, numBands: Int = 16, seed: Long = 42L,
      historyBands: Option[HistoryBands] = None,
      broadcastBatch: Boolean = false): DataFrame = {
    historyBands.foreach { hb =>
      require(hb.idCol == idCol && hb.numBands == numBands && hb.numHashes == numHashes,
        s"precomputed history bands were built with (idCol=${hb.idCol}, " +
          s"numBands=${hb.numBands}, numHashes=${hb.numHashes}) but this call uses " +
          s"(idCol=$idCol, numBands=$numBands, numHashes=$numHashes) — band hashes " +
          "from different families never collide, so the join would silently miss " +
          "duplicates")
    }
    // the history side of the band join is batch-invariant — a caller in an
    // ingestion loop precomputes it ONCE via [[historyLshBands]] instead of
    // re-exploding the full history signature set every micro-batch
    val oldBands = historyBands.map(_.df)
      .getOrElse(historyLshBands(oldSigs, idCol, numBands, numHashes).df)
    // ONE batch scan computes BOTH per-doc kernels (MinHash signature +
    // exact shingle set) and checkpoints them: the signature re-attach and
    // the verify-stage shingle lookup both come from this frame, so the
    // batch is never re-signed, re-shingled, or semi-join-filtered again
    val batchPrep = newDocs
      .select(col(idCol).as("new_id"),
        graft.functions.GraftFunctions.minHashSig(col(textCol), shingleN, numHashes, seed)
          .as("sig"),
        shingleHashes(col(textCol), shingleN).as("shs_a"))
      .filter(col("sig").isNotNull && size(col("shs_a")) > 0)
      .cutLineage()
    // in broadcastBatch mode every batch-side frame broadcasts so history
    // streams map-side; otherwise the (checkpointed, so accurately sized)
    // frame is left to the planner
    def bcast(df: DataFrame): DataFrame = if (broadcastBatch) broadcast(df) else df
    val newBands = lshBands(batchPrep.select(col("new_id").as(idCol), col("sig")),
        idCol, numBands, numHashes)
      .select(col(idCol).as("new_id"), col("band"), col("band_hash"))
    val est = graft.functions.GraftFunctions.sigEqualFraction(col("sig_a"), col("sig_b"))
    // NARROW distinct straight off the band join (band-collision multiplicity
    // ≤ numBands dies before anything wide attaches), then the est-prefilter
    // before any history text is touched; the default band join keeps its
    // shuffle-hash pin against the explode-stale-estimate broadcast trap
    val pairs = (if (broadcastBatch)
        oldBands.join(broadcast(newBands), Seq("band", "band_hash"))
      else
        newBands.join(oldBands.hint("shuffle_hash"), Seq("band", "band_hash")))
      .select("new_id", "old_id").distinct()
      .join(bcast(batchPrep.select(col("new_id"), col("sig").as("sig_a"))), "new_id")
    val candidates = (if (broadcastBatch)
        // history signatures stream map-side past the broadcast pair set
        pairs.hint("broadcast")
          .join(oldSigs.select(col(idCol).as("old_id"), col("sig").as("sig_b")), "old_id")
      else
        // SHJ pinned with the build on the pair side: sorting 64-long
        // signature arrays for an SMJ is pure waste, and the build side must
        // be the candidate pairs, not the corpus-sized signature set
        pairs.hint("shuffle_hash")
          .join(oldSigs.select(col(idCol).as("old_id"), col("sig").as("sig_b")), "old_id"))
      .filter(est >= math.max(0.0, threshold - 0.15))
      .select("new_id", "old_id")
      .join(bcast(batchPrep.select(col("new_id"), col("shs_a"))), "new_id")
    if (broadcastBatch) {
      // history TEXT also streams map-side: the shingle kernel runs only on
      // rows the broadcast hash lets through — per-batch history cost is
      // three column scans, ZERO history exchanges
      oldDocs.select(col(idCol).as("old_id"), col(textCol).as("__old_text"))
        .join(broadcast(candidates), "old_id")
        .withColumn("shs_b", shingleHashes(col("__old_text"), shingleN))
        .filter(size(col("shs_b")) > 0)
        .withColumn("common",
          graft.functions.GraftFunctions.sortedIntersectSize(col("shs_a"), col("shs_b")))
        .withColumn("jaccard",
          round(col("common").cast("double") /
            (size(col("shs_a")) + size(col("shs_b")) - col("common")), 4))
        .filter(col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
        .distinct()
    } else {
      // corpus-sized new side: candidates checkpoint once (they feed the
      // history semi-join AND the verify join), history shingles compute
      // behind a semi-join so text never rides an exchange
      val cand = candidates.cutLineage()
      val oldSh = oldDocs
        .join(cand.select(col("old_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
        .select(col(idCol).as("old_id"), shingleHashes(col(textCol), shingleN).as("shs_b"))
        .filter(size(col("shs_b")) > 0)
      cand.join(oldSh, "old_id")
        .withColumn("common",
          graft.functions.GraftFunctions.sortedIntersectSize(col("shs_a"), col("shs_b")))
        .withColumn("jaccard",
          round(col("common").cast("double") /
            (size(col("shs_a")) + size(col("shs_b")) - col("common")), 4))
        .filter(col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
        .distinct()
    }
  }

  // ---- Bloom-routed incremental exact dedup ----

  /**
   * Incremental EXACT dedup against a history corpus with a Bloom-filter
   * fast path — Spark's own runtime-filter machinery
   * (`BloomFilterAggregate` / `BloomFilterMightContain`, the expressions
   * behind `InjectRuntimeFilter`) turned into an operator: the history's
   * content-hash keys aggregate into one bloom (distributed partial
   * sketches OR-merged — one history pass, no driver-side key set); batch
   * rows the bloom rejects are DEFINITELY new and bypass the history join
   * entirely; only bloom-positives (true dups + ~fpp of the batch) reach
   * the exact anti-join, so the result is EXACT — the bloom routes rows,
   * it never decides them. False 64-bit xxhash collisions are absorbed the
   * same way (a colliding key is just a bloom-positive that the md5-keyed
   * anti-join clears).
   *
   * Scale: for a mostly-new batch (the streaming-ingest norm) the exact
   * join processes ~fpp·|batch| rows instead of |batch|. The bloom is
   * `ceil(n·ln(1/fpp)/ln²2)` bits (~1.2 MB per million history keys at
   * 1%) — task-broadcast as a literal; at 10^10-key history shard the
   * bloom by key range. The history side of the residual anti-join is the
   * un-indexed cost — persist history keys through [[graft.operators.Bucketed]]
   * (bucketed by `content_hash`) and it joins zero-Exchange.
   */
  def dedupBloomIncremental(batch: DataFrame, history: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    val (definitelyNew, maybe) =
      bloomRoute(batch, history, textCol, idCol, expectedItems, fpp)
    val hKeys = history.select(md5(col(textCol)).as("content_hash"))
    val confirmedNew = maybe
      .join(hKeys.distinct().hint("shuffle_hash"), Seq("content_hash"), "left_anti")
    definitelyNew.unionByName(confirmedNew).select(col(idCol), col("content_hash"))
  }

  /** The bloom routing stage of [[dedupBloomIncremental]]: batch keyed by
    * content hash, split into (definitely-new, maybe-duplicate) by the
    * history bloom. Exposed so the suite can measure routing volume and
    * false-positive rate on the same bloom the operator uses. */
  private[operators] def bloomRoute(batch: DataFrame, history: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      expectedItems: Long = 0L, fpp: Double = 0.01): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftshim.ColumnShim
    import org.apache.spark.sql.types.BinaryType
    val hKeys = history.select(md5(col(textCol)).as("k"))
    val n = math.max(1L, if (expectedItems > 0) expectedItems else hKeys.count())
    val numBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bloomAgg = new BloomFilterAggregate(
      ColumnShim.expression(xxhash64(col("k"))),
      Literal(n), Literal(numBits)).toAggregateExpression()
    val bloomBytes = hKeys.select(ColumnShim.column(bloomAgg).as("bf"))
      .head().getAs[Array[Byte]](0)
    val keyed = batch.select(col(idCol), md5(col(textCol)).as("content_hash"))
    // EMPTY history aggregates to a NULL sketch, and might_contain(null)
    // is null — both filters would then drop every batch row (first-tick
    // data loss). No history means nothing can collide: the whole batch
    // is definitely new.
    if (bloomBytes == null) return (keyed, keyed.limit(0))
    val mightContain = ColumnShim.column(new BloomFilterMightContain(
      Literal.create(bloomBytes, BinaryType),
      ColumnShim.expression(xxhash64(col("content_hash")))))
    (keyed.filter(!mightContain), keyed.filter(mightContain))
  }

  /** Query entry (oracle-checked): the %3==0 docs arrive as the new batch
    * (every 9th carrying the text of its history-side successor — planted
    * cross-set exact duplicates, the corpus itself has none) against the
    * rest as history; output = the genuinely new batch docs. The bloom
    * routing is invisible to the result — DuckDB's plain anti-join IS the
    * oracle. */
  def dedupBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dup = docs.as("a").filter(col("a.doc_id") % 9 === 0)
      .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("doc_id"), col("b.text").as("text"))
    val batch = docs.filter(col("doc_id") % 3 === 0 && col("doc_id") % 9 =!= 0)
      .select("doc_id", "text").unionByName(dup)
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    dedupBloomIncremental(batch, history).orderBy(col("doc_id"))
  }

  /** Query entry (oracle-checked): the %3==0 docs arrive as the new batch
    * against the rest as the historical corpus; exact cross-set Jaccard >=
    * 0.7 decides, so DuckDB reproduces the full answer (banding recall as
    * in [[minHashNearDupsVerified]]). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    crossNearDups(
      docs.filter(col("doc_id") % 3 === 0),
      docs.filter(col("doc_id") % 3 =!= 0))
      .orderBy(col("new_id"), col("old_id"))
  }

  /**
   * Inverted-index variant (no MinHash): df-capped Jaccard for every pair
   * sharing a shingle rarer than `maxDf`. NOTE the cap biases the estimate
   * low: only sub-cap shingles count toward `common` while the denominators
   * count all shingles, so pairs whose overlap is mostly ubiquitous shingles
   * score near zero (use the LSH [[ngramJaccard]] for exact values). The df
   * cap is load-bearing — char
   * n-grams are heavy-tailed, and a shingle with df=d creates d² pairs.
   * Keep maxDf small (default 50) or use the LSH-candidates
   * [[ngramJaccard]] for big corpora.
   */
  def ngramJaccardInverted(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      shingleN: Int = 4, threshold: Double = 0.5, maxDf: Int = 50): DataFrame = {
    // partition-gated spread + checkpoint (Spread.ifNarrow: only when the
    // input arrives narrower than the session parallelism -- at scale the
    // scan is already wide and no extra shuffle is inserted): df census and
    // postings join both consume the exploded table; the df-capped
    // postings feed both sides of the pair self-join
    val sh = graft.util.Spread.ifNarrow(docs)
      .select(col(idCol), shingleHashes(col(textCol), shingleN).as("shs"))
      .withColumn("n_sh", size(col("shs")))
    val inv = sh.select(col(idCol), col("n_sh"), explode(col("shs")).as("s"))
      .cutLineage()
    val rare = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
    // postings are explode-amplified too — same shuffle-hash pin as the
    // band joins; df-capped `rare` is the smaller (build) side
    val pruned = inv.join(rare.select("s").hint("shuffle_hash"), "s")
      .cutLineage()
    val a = pruned.select(col("s"), col(idCol).as("doc_a"), col("n_sh").as("n_a"))
    val b = pruned.select(col("s"), col(idCol).as("doc_b"), col("n_sh").as("n_b"))
    a.join(b.hint("shuffle_hash"), "s").filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  def ngramJaccardQuery(spark: SparkSession, dir: String): DataFrame =
    ngramJaccard(Tables.documents(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Query entry (oracle-checked): the df-capped inverted-index estimate is
    * deterministic — same cap, same formula — so DuckDB reproduces it
    * exactly, documented low bias included (only sub-cap shingles count
    * toward `common`; denominators count all shingles). The synthetic
    * corpus's template shingles all exceed the df cap, so absolute
    * estimates stay far below any fixed near-dup threshold (max 0.12 at
    * sf0.01, 0.012 at sf0.1) — the useful surface is the RANKING, so the
    * entry returns the top-100 candidate pairs under the total order
    * (estimate desc, doc_a, doc_b), non-vacuous at every SF. */
  def ngramJaccardInvertedQuery(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardInverted(Tables.documents(spark, dir), threshold = 0.0)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(100)

  /**
   * Sub-document duplication coverage: for each doc, the fraction of its
   * distinct char n-grams that also occur in at least one other document —
   * the RefinedWeb-style signal that catches boilerplate shared across
   * documents that whole-doc dedup misses. Three shuffles, all bounded by
   * corpus gram count (explode → df aggregate → join back → per-doc
   * aggregate), never pairwise: cost scales with corpus size, not
   * corpus². Grams compare by 64-bit avalanched FNV hash; a collision
   * shifting a count has probability ~n²/2^64 per doc (same documented
   * tolerance as [[CorpusPipeline.decontaminate]]).
   */
  def gramCoverage(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", gramN: Int = 8): DataFrame = {
    // partition-gated spread + checkpoint (Spread.ifNarrow: only when the
    // input arrives narrower than the session parallelism -- at scale the
    // scan is already wide and no extra shuffle is inserted): the df census and
    // the coverage join both consume the exploded gram table
    val g = graft.util.Spread.ifNarrow(docs)
      .select(col(idCol),
        explode(shingleHashes(col(textCol), gramN)).as("g"))
      .cutLineage()
    val dfreq = g.groupBy("g").agg(count(lit(1)).as("df"))
    // shuffle-hash hint: Catalyst's size estimate for the exploded side is
    // the parquet FILE size, so at small SF it happily BROADCASTS the
    // exploded corpus (the big side!) — a shape that dies at scale. The
    // hash join on g keeps dfreq (≤ exploded side by construction) as the
    // per-partition build side and reuses dfreq's existing hash
    // partitioning on g.
    g.join(dfreq.hint("shuffle_hash"), "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_grams"))
      .select(col(idCol), col("n_grams"),
        round(col("dup_grams").cast("double") / col("n_grams"), 4)
          .as("dup_gram_frac"))
  }

  def gramCoverageQuery(spark: SparkSession, dir: String): DataFrame =
    gramCoverage(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---- cluster + keep decisions ----

  /**
   * Connected components over near-dup pairs via min-label propagation
   * with pointer jumping: each iteration takes the min label over
   * neighbors, then compresses label -> label-of-label (path halving), so
   * convergence is O(log diameter) iterations instead of O(diameter) —
   * text near-dup clusters are shallow, but semantic-similarity graphs
   * ([[Similarity.semanticDedup]]) form long chains that plain propagation
   * would walk hop by hop. Join-per-iteration with Materialize.cut to sever
   * lineage. Returns (doc_id, cluster_id = smallest reachable id) for
   * every doc that appears in a pair.
   *
   * Under [[graft.util.FastPaths.GraphEdges]] the whole pair graph
   * collects to the driver and union-find computes the same fixpoint in one
   * pass (see [[graphPlan]]).
   */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    graphPlan("dedup.clusters", pairs, "doc_a", "doc_b", Seq("doc_id", "cluster_id"))(
      smallGraphClusters(pairs.sparkSession, _),
      distributedNearDupClusters(_, maxIter))

  /** The edge gate shared by the driver graph kernels ([[nearDupClusters]],
    * [[PageRank.pageRank]]) — size-based plan selection, the graph analog
    * of a broadcast join: a VERIFIED near-dup pair graph (or a kNN edge
    * list) is orders of magnitude smaller than the corpus that produced it,
    * and under the edge ceiling one bounded collect is strictly cheaper than
    * even a single distributed iteration (each a multi-job round trip). The
    * collected edges feed `driver`, which computes the IDENTICAL fixpoint
    * (suite-pinned against `distributed`). The driver kernels index by
    * primitive Long, so eligibility additionally requires integral,
    * same-typed id columns (others run the type-agnostic `distributed`
    * plan), and the `idCols` of either plan's output cast back to the INPUT
    * id type — plan selection never changes the result schema. The edge
    * pipeline (often LSH + verify, or a kNN graph) checkpoints ONCE, as
    * (src, dst), and serves the census, the collect AND the distributed
    * loop's scans; the census is a count over the checkpoint — no edge
    * bytes haul to the driver on the fall-through path. */
  private[operators] def graphPlan(site: String, edges: DataFrame, a: String, b: String,
      idCols: Seq[String])(driver: Array[(Long, Long)] => DataFrame,
      distributed: DataFrame => DataFrame): DataFrame = {
    val idDt = edges.schema(a).dataType
    val out =
      if (graft.util.IdTypes.integral(idDt) && edges.schema(b).dataType == idDt) {
        val p = graft.util.Materialize.cut(
          edges.select(col(a).cast("long").as("src"), col(b).cast("long").as("dst")))
        import p.sparkSession.implicits._
        graft.util.FastPaths.collect(site,
            p.select(col("src").as("_1"), col("dst").as("_2")).as[(Long, Long)],
            graft.util.FastPaths.GraphEdges, census = p.count())
          .fold(distributed(p))(driver)
      } else distributed(graft.util.Materialize.cut(
        edges.select(col(a).as("src"), col(b).as("dst"))))
    out.select(out.columns.toIndexedSeq.map(c =>
      if (idCols.contains(c)) col(c).cast(idDt).as(c) else col(c)): _*)
  }

  /** The pointer-jumping distributed plan of [[nearDupClusters]] over the
    * checkpointed (src, dst) pairs — the 100 TB path, type-agnostic over
    * the id columns. */
  private def distributedNearDupClusters(pairs: DataFrame, maxIter: Int): DataFrame = {
    // Materialize.cut, not cache(): the edge table is read every iteration,
    // but a cache() in an operator that returns before unpersisting pins
    // the plan in the session CacheManager for the session's lifetime —
    // one leaked entry per call (same reasoning as [[ngramJaccard]]). cut()
    // is a RELIABLE checkpoint when a checkpoint dir is configured (this is
    // the at-scale lane — executor loss must recompute, not fail the query)
    // and localCheckpoint in local mode.
    val edges = graft.util.Materialize.cut(pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst"))))
    var labels = graft.util.Materialize.cut(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "nid"), col("dst") === col("nid"))
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val stepped = labels
        .join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"), labels("label"),
          least(labels("label"), coalesce(col("nlabel"), labels("label"))).as("mid"))
      // pointer jump: every label value is itself an id in the table (labels
      // only ever shrink toward reachable ids), so compose label := label's
      // label. Invariant-preserving — the fixpoint (min reachable id) is
      // unchanged; only the hop count to reach it halves. Deferred to
      // iteration 2: shallow clusters (text near-dups, diameter <= ~3) have
      // converged by then and never pay the extra corpus-sized label join;
      // deep chains (semantic graphs) still close in 2 + log2(diameter).
      val compressed = (if (iter < 2) stepped.select(col("id"), col("label"),
          col("mid").as("next"))
        else {
          // materialize before the self-join: both jump sides read the
          // labels⋈neighborMin subtree, which would otherwise plan (and
          // run) twice per iteration on the corpus-sized label table
          val s = graft.util.Materialize.cut(stepped)
          s.alias("a")
            .join(s.select(col("id").as("jid"), col("mid").as("jlabel")).alias("b"),
              col("a.mid") === col("jid"), "left")
            .select(col("a.id").as("id"), col("a.label").as("label"),
              least(col("a.mid"), coalesce(col("jlabel"), col("a.mid"))).as("next"))
        })
      val materialized = graft.util.Materialize.cut(compressed)
      changed = materialized.filter(col("next") < col("label")).count()
      labels = materialized.select(col("id"), col("next").as("label"))
      iter += 1
    }
    // unconverged labels would flow silently into keep decisions (several
    // docs per true cluster all marked keep) — fail loudly instead. Pointer
    // jumping makes this unreachable below diameter ~2^(maxIter-2), so
    // tripping it means a pathological graph that needs a bigger maxIter,
    // not a partial answer.
    require(changed == 0,
      s"nearDupClusters did not converge in $maxIter iterations ($changed labels still moving); " +
        "raise maxIter — component diameter exceeds 2^(maxIter-2)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** The driver fast path of [[nearDupClusters]]: union-find (union by
    * rank, path compression) over the collected edge list, then each
    * component labeled by its minimum member id — the same fixpoint the
    * distributed loop converges to, computed in one linear pass. */
  private def smallGraphClusters(
      spark: SparkSession, edges: Array[(Long, Long)]): DataFrame = {
    val idx = new java.util.HashMap[java.lang.Long, Integer]()
    def indexOf(id: Long): Int = {
      val got = idx.get(id)
      if (got != null) got.intValue()
      else { val i = idx.size(); idx.put(id, i); i }
    }
    val flat = edges.map { case (a, b) => (indexOf(a), indexOf(b)) }
    val n = idx.size()
    val parent = Array.tabulate(n)(identity)
    val rank = new Array[Byte](n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    flat.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
    }
    val ids = new Array[Long](n)
    idx.forEach((id, i) => ids(i.intValue()) = id.longValue())
    val minOfRoot = new java.util.HashMap[Integer, java.lang.Long]()
    (0 until n).foreach { i =>
      val r = find(i)
      val cur = minOfRoot.get(r)
      if (cur == null || ids(i) < cur) minOfRoot.put(r, ids(i))
    }
    import spark.implicits._
    (0 until n).map(i => (ids(i), minOfRoot.get(find(i)).longValue()))
      .toDF("doc_id", "cluster_id")
  }

  /** Keep decision per duplicate-cluster member: keep only the smallest id.
    * (doc_id, cluster_id, keep). Docs in no pair are implicitly kept. */
  def nearDupKeepDecisions(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    nearDupClusters(pairs, maxIter)
      .withColumn("keep", col("doc_id") === col("cluster_id"))

  /** Keep/drop verdicts at the confident-duplicate threshold — dropping a
    * document wants high precision, so 0.7 (not the exploratory 0.5 used for
    * pair inspection). Pairs are exact-verified, so the cluster labels (min
    * reachable id) equal what any engine computes over the true >=0.7 pair
    * graph — DuckDB reproduces them with a recursive transitive closure. */
  def dedupMinhashKeep(spark: SparkSession, dir: String): DataFrame =
    nearDupKeepDecisions(minHashNearDupsVerified(Tables.documents(spark, dir), threshold = 0.7))
      .orderBy(col("doc_id"))

  /**
   * Quality-aware survivor selection: within each near-dup cluster keep
   * the HIGHEST-quality member (tie-break smallest id) instead of
   * [[dedupMinhashKeep]]'s smallest-id rule — what a curation pipeline
   * actually wants (near-dup groups mix a clean original with mangled
   * re-crawls; min-id keeps whichever was crawled first). Quality is the
   * shared 4-dp [[TextAnalysis.signalQuality]] score, so the per-cluster
   * ranking is deterministic across engines (exact rounded doubles, id
   * tie-break).
   *
   * Scale shape: clustering is the pointer-jumped [[nearDupClusters]]
   * (no quadratic stage); the signals kernel runs only on docs that
   * appear in a pair (corpus joined to the cluster table FIRST — build
   * side pinned shuffle-hash since cluster cardinality derives from an
   * agg and must not be gambled on broadcast); the keep window partitions
   * by cluster, state bounded by cluster size.
   */
  def dedupMinhashBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val clusters = nearDupClusters(minHashNearDupsVerified(docs, threshold = 0.7))
    val scored = docs.join(clusters.hint("shuffle_hash"), "doc_id")
      .select(col("doc_id"), col("cluster_id"),
        length(col("text")).cast("long").as("n_chars"),
        graft.functions.TextSignals.signals(col("text")).as("sig"))
      .select(col("doc_id"), col("cluster_id"),
        coalesce(TextAnalysis.signalQuality(col("sig"), col("n_chars")), lit(0.0))
          .as("quality"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        (col("rnk") === 1).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Query entry (oracle-checked): the CLUSTER-level view of the same
    * verified >=0.7 pair graph — one row per near-dup cluster with its size
    * and comma-joined sorted member list, the shape a curation review uses
    * ("show me the duplicate groups") where [[dedupMinhashKeep]] answers
    * per-document. Exact-verified pairs mean the clusters equal what any
    * engine computes over the true pair graph; DuckDB reproduces them with
    * the same recursive transitive closure that checks dedup_minhash_keep,
    * aggregated per component. Scale shape: pointer-jumped clustering (no
    * quadratic stage) plus one groupBy(cluster) whose members list is
    * bounded by cluster size, not corpus size. */
  def textLshClusters(spark: SparkSession, dir: String): DataFrame =
    nearDupClusters(minHashNearDupsVerified(Tables.documents(spark, dir), threshold = 0.7))
      .groupBy(col("cluster_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        concat_ws(",",
          transform(array_sort(collect_list(col("doc_id"))), _.cast("string")))
          .as("members"))
      .orderBy(col("cluster_id"))

  /**
   * End-to-end corpus cleaning, the composed LLM-data pipeline: per-doc
   * quality + language signals (pure column expressions), near-dup keep
   * decisions (MinHash-LSH + clustering), one boolean verdict per document
   * with the reasons. Everything except the near-dup candidate join stays in
   * the scan stage.
   */
  def cleanCorpus(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      minQuality: Double = 0.3, langs: Set[String] = Set("en"),
      nearDupThreshold: Double = 0.7): DataFrame = {
    import graft.operators.{TextAnalysis => TA}
    val keepSet = nearDupKeepDecisions(
      minHashNearDupsVerified(docs, textCol, idCol, threshold = nearDupThreshold))
      .select(col("doc_id").as(idCol), col("keep").as("dup_keep"))
    val scored = docs
      .select(col(idCol), length(col(textCol)).cast("long").as("n_chars"),
        graft.functions.TextSignals.signals(col(textCol)).as("sig"))
      .select(
        col(idCol),
        TA.signalQuality(col("sig"), col("n_chars")).as("quality"),
        TA.signalLangId(col("sig"), col("n_chars")).as("pred_lang"))
    scored
      .join(keepSet, Seq(idCol), "left")
      .withColumn("dup_keep", coalesce(col("dup_keep"), lit(true)))
      .withColumn("lang_ok", col("pred_lang").isInCollection(langs.toSeq))
      .withColumn("quality_ok", col("quality") >= minQuality)
      .withColumn("keep", col("dup_keep") && col("lang_ok") && col("quality_ok"))
      .select(idCol, "quality", "pred_lang", "dup_keep", "lang_ok", "quality_ok", "keep")
  }

  def corpusClean(spark: SparkSession, dir: String): DataFrame =
    cleanCorpus(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---- segment-level dedup (C4-style repeated-span removal) ----

  /**
   * Sub-document dedup: remove every occurrence of any fixed-width word
   * segment that repeats >= minCount times across the corpus — the
   * C4/RefinedWeb boilerplate-line step, re-expressed for corpora whose
   * "lines" are word windows. Whole-doc dedup ([[exact]], [[dedupMinhash]])
   * misses templated spans shared by otherwise-distinct docs; this removes
   * the spans themselves and reassembles each doc from its surviving
   * segments in original order (docs reduced to nothing stay as empty rows
   * — the caller decides whether to drop them).
   *
   * Scale shape: segment explode is narrow; the occurrence count is one
   * shuffle on md5(segment) with map-side partials (segment-vocabulary
   * cardinality, like [[graft.operators.CorpusPipeline.vocabTopK]]); the
   * repeated-segment set (count >= minCount) is typically a tiny fraction
   * of the vocabulary — boilerplate — but derives from an aggregate whose
   * size estimate Catalyst can't trust, so the join back is pinned
   * shuffle-hash rather than gambling on a broadcast of an unbounded set
   * (the stale-estimate trap documented at [[ngramJaccard]]); reassembly
   * is one groupBy on the doc id. Three bounded shuffles, no pairwise
   * stage anywhere.
   */
  def segmentDedup(docs: DataFrame, segWords: Int = 6, minCount: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(segWords > 0 && minCount > 1, s"segWords=$segWords minCount=$minCount")
    // partition-gated spread + checkpoint (Spread.ifNarrow; see
    // containmentPairs):
    // two consumers (occurrence census, verdict join) would re-run the
    // segment explode per consumer, in a single task at one-split SFs
    val segs = graft.util.Spread.ifNarrow(
        docs.filter(length(col(textCol)) > 0))
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol),
        explode(sequence(lit(0),
          floor((size(col("w")) - 1) / segWords).cast("int"))).as("seg_idx"),
        col("w"))
      .select(col(idCol), col("seg_idx"),
        array_join(slice(col("w"), col("seg_idx") * segWords + 1, lit(segWords)), " ")
          .as("seg"))
      .withColumn("k", md5(col("seg")))
      .cutLineage()
    val repeated = segs.groupBy("k").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    segs.join(repeated.hint("shuffle_hash"), Seq("k"), "left")
      .withColumn("dup", col("c").isNotNull)
      .groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(when(!col("dup"),
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_segs"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dropped"))
  }

  def segmentDedupQuery(spark: SparkSession, dir: String): DataFrame =
    segmentDedup(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))

  // ---- directed n-gram containment (quote / near-superset detection) ----

  /**
   * Directed containment pairs: `containment(A→B) = |grams(A) ∩ grams(B)|
   * / |grams(A)|` over sliding word n-grams — the asymmetry Jaccard
   * structurally misses. A short document quoted inside a long one scores
   * containment ≈ 1 while its Jaccard stays near 0 (the union is dominated
   * by the container), so MinHash/LSH — which approximates Jaccard — can
   * never surface these pairs; quote and wrapper detection NEEDS its own
   * candidate structure. That structure is the df-capped inverted index of
   * [[ngramJaccardInverted]]: word n-grams (high-entropy keys — a 6-word
   * window ~never repeats by chance, unlike char shingles) with df in
   * [2, maxDf] generate candidates; the df cap bounds the pair fan-out at
   * maxDf² per gram and excludes boilerplate grams, biasing scores low for
   * boilerplate-only overlap — documented, deterministic, and replayed by
   * the oracle. Pairs are DIRECTED (both orders emitted when both clear the
   * threshold); `common` counts only sub-cap grams while the denominator
   * counts all of A's grams, as in the Jaccard variant.
   */
  def containmentPairs(docs: DataFrame, n: Int = 6, threshold: Double = 0.5,
      maxDf: Int = 50, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // fused kernel: distinct gram md5s in one loop per row (the HOF
    // transform∘sequence∘md5∘array_join form interprets four lambdas per
    // window and materializes every gram string); docs shorter than n words
    // produce an empty array, matching the old size(w) >= n pre-filter —
    // and DuckDB's generate_series, which yields empty on a negative range
    // checkpointed: three consumers on different keys (per-doc census,
    // df census, postings join) would otherwise re-run the gram kernel +
    // explode per consumer — the reuse>=2 materialization tradeoff, same
    // as ngramJaccard's candidate shingle table. Gated spread first
    // (Spread.ifNarrow): one parquet split at bench SFs would run the
    // kernel single-task; an already-wide production scan passes through
    val grams = graft.util.Spread.ifNarrow(docs)
      .select(col(idCol),
        graft.functions.GraftFunctions.wordGramMd5s(col(textCol), n).as("gs"))
      .filter(size(col("gs")) > 0)
      .select(col(idCol), explode(col("gs")).as("g"))
      .cutLineage()
    val gc = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val dfq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    // postings are explode-amplified — the same shuffle-hash pin as every
    // band/inverted join in this file; checkpointed because the pair
    // self-join consumes it twice and the df cap bounds it
    val pr = grams.join(dfq.select("g").hint("shuffle_hash"), "g")
      .cutLineage()
    pr.select(col("g"), col(idCol).as("contained_id"))
      .join(pr.select(col("g"), col(idCol).as("container_id")).hint("shuffle_hash"), "g")
      .filter(col("contained_id") =!= col("container_id"))
      .groupBy("contained_id", "container_id").agg(count(lit(1)).as("common"))
      .join(gc.select(col(idCol).as("contained_id"), col("n")).hint("shuffle_hash"),
        "contained_id")
      .withColumn("containment", round(col("common").cast("double") / col("n"), 4))
      .filter(col("containment") >= threshold)
      .select(col("contained_id").as("doc_id"), col("container_id"), col("containment"))
  }

  /** Query entry (oracle-checked): docs with doc_id % 10 == 0 become QUOTE
    * docs — their text replaced by the first 12 words of the next doc — so
    * the corpus carries planted (quote ⊂ container) pairs whose Jaccard is
    * tiny but containment ≈ 1; DuckDB replays the plant and the full
    * df-capped inverted-index computation. */
  def containmentQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val next = docs.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("next_text"))
    val planted = docs.join(next, Seq("doc_id"), "left")
      .withColumn("text",
        when(col("doc_id") % 10 === 0 && col("next_text").isNotNull,
          array_join(slice(split(col("next_text"), " "), 1, 12), " "))
          .otherwise(col("text")))
      .select("doc_id", "text")
    containmentPairs(planted).orderBy(col("doc_id"), col("container_id"))
  }
}
