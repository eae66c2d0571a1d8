package graft.operators

import graft.SparkSpec
import graft.functions.{CharEntropy, GraftFunctions}
import org.apache.spark.sql.functions._

/** Adversarial-text sweep (the sibling of the empty/null-input sweeps):
  * astral-plane codepoints, lone surrogates, combining marks and one
  * multi-MB document through the char kernels and the shingle/winnow
  * explodes, with lane parity wherever plan selection exists. The contract
  * pinned: no kernel crashes, outputs are deterministic, codepoints (not
  * UTF-16 units) are the char-gram unit, and a pathological single row
  * cannot blow per-row memory (explode output stays linear in its input). */
class UnicodeInputSpec extends SparkSpec {
  import spark.implicits._

  private val astral = "😀a🎉b😀" // 😀a🎉b😀
  private val zalgo = "é̶̠ combining śtack"
  private val loneSurrogate = "bad\ud800tail" // unpaired high surrogate

  test("charGrams counts astral codepoints once (codepoint unit, not UTF-16)") {
    val out = Seq(astral).toDF("text")
      .select(GraftFunctions.charGrams(col("text"), 2).as("g"))
      .head().getSeq[String](0)
    // 5 codepoints -> 4 bigrams, each spanning whole codepoints (a UTF-16
    // unit kernel would emit 7 and split the surrogate pairs)
    assert(out.length === 4)
    assert(out.head === "\ud83d\ude00a" && out.last === "b\ud83d\ude00")
  }

  test("lone surrogates survive the char kernels without crashing, deterministically") {
    val docs = Seq((1L, loneSurrogate), (2L, astral), (3L, zalgo)).toDF("doc_id", "text")
    val stats1 = docs.select(col("doc_id"),
      GraftFunctions.charGrams(col("text"), 3).as("grams"),
      CharEntropy.entropy(col("text")).as("ent")).collect()
    val stats2 = docs.select(col("doc_id"),
      GraftFunctions.charGrams(col("text"), 3).as("grams"),
      CharEntropy.entropy(col("text")).as("ent")).collect()
    assert(stats1.map(_.toString).toSeq === stats2.map(_.toString).toSeq)
    // winnow + simhash + NFC end-to-end over the same dirty corpus
    assert(TextAnalysis.winnowFingerprints(docs).count() >= 0)
    assert(Dedup.simHashNearDups(docs).count() >= 0)
    val nfc = docs.select(GraftFunctions.nfcNormalize(col("text")).as("t")).collect()
    assert(nfc.length === 3)
  }

  test("NFC normalization composes combining marks (é forms) identically in plan and kernel") {
    val composed = "caf\u00e9"   // precomposed é
    val decomposed = "cafe\u0301" // e + combining acute
    val out = Seq((1L, decomposed)).toDF("doc_id", "text")
      .select(GraftFunctions.nfcNormalize(col("text")).as("t")).head().getString(0)
    assert(out === composed)
    // exact-NFC dedup pairs the two spellings
    val docs = Seq((1L, composed), (2L, decomposed)).toDF("doc_id", "text")
    val groups = docs.groupBy(GraftFunctions.nfcNormalize(col("text")).as("t"))
      .agg(count(lit(1)).as("n")).collect()
    assert(groups.length === 1 && groups.head.getLong(1) === 2L)
  }

  test("ngramJaccard lane parity on unicode text (fast probe index vs banded join)") {
    val base = "😀 the quick brown fox éléphant jumps over the lazy dog"
    val docs = Seq(
      (1L, s"$base today"), (2L, s"$base tonight"),
      (3L, loneSurrogate + " unrelated content entirely different words"),
      (4L, zalgo)).toDF("doc_id", "text")
    val fast = Dedup.ngramJaccard(docs, threshold = 0.3).collect().toSet
    val join = graft.util.FastPaths.forced(Dedup.ngramJaccard(docs, threshold = 0.3).collect().toSet)
    assert(fast === join)
    assert(fast.nonEmpty) // docs 1 and 2 share nearly all shingles
  }

  test("a multi-MB single document flows through the shingle and winnow explodes linearly") {
    // ~2 MB of text in ONE row: the explode fan-out must stay linear in the
    // document (one shingle per word position, one fingerprint window per
    // char position), never quadratic, and nothing buffers the whole
    // explosion per row
    val words = 200000
    val big = (0 until words).map(i => s"w${i % 5000}").mkString(" ")
    assert(big.length > 1000000)
    val docs = Seq((1L, big), (2L, "tiny doc")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs)
    val n = fps.filter(col("doc_id") === 1L).count()
    assert(n > 0 && n <= big.length.toLong,
      s"winnow fingerprints must be (sub)linear in chars, got $n")
    val sigs = Dedup.minHashSignatures(docs)
    assert(sigs.count() === 2) // fixed-width signature per doc, independent of doc size
  }
}
