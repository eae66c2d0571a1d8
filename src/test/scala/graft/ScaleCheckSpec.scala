package graft

/**
 * Pins the [[ScaleCheck]] count check on a light subset (the committed
 * SCALING.json carries the full sf0.01→sf0.1 run). The SF pair must be
 * sf0.01→sf0.1 because that is where the documents table actually steps
 * 10x (500 rows at BOTH sf0.001 and sf0.01 — the check rejects a flat step
 * as vacuous, which this suite also pins). The subset spans the two
 * pair-generation families most at risk of a quadratic stage: banded
 * MinHash LSH and SimHash banding.
 */
class ScaleCheckSpec extends SparkSpec {

  test("a flat data step is a harness-usage error, not a vacuous pass") {
    val e = intercept[IllegalArgumentException] {
      ScaleCheck.check(spark, Seq("dedup_simhash" -> "documents"),
        small = "/root/testdata/sf0.001", big = "/root/testdata/sf0.01")
    }
    assert(e.getMessage.contains("does not grow"))
  }

  test("data-bound entries grow at most SlackFactor x the data ratio across SFs") {
    val results = (ScaleCheck.check(
      spark, Seq("dedup_minhash" -> "documents", "dedup_simhash" -> "documents"),
      small = "/root/testdata/sf0.01", big = "/root/testdata/sf0.1"))
    results.foreach { r =>
      info(f"${r.key}: shuffle ${r.small.shufW} -> ${r.big.shufW} bytes " +
        f"(${r.ratio}%.2fx, bound ${r.bound}%.2fx)")
      assert(r.ok,
        f"${r.key}'s shuffle grew ${r.ratio}%.1fx across the data step (bound " +
          f"${r.bound}%.1fx), most in ${r.growth._1} — a super-linear stage crept in")
    }
  }

  test("the same key run twice at one SF writes identical shuffle bytes") {
    // the count check rests on this: a ratio of two counts that repeat
    // exactly needs no repeated samples and no noise allowance
    val dir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    def shufW() = ScaleCheck.phases(spark, "dedup_simhash", dir)
      .map { case (phase, c) => phase -> c.shufW }
    val first = shufW()
    assert(first.map(_._2).sum > 0)
    assert(shufW() === first)
  }

  test("the forced-distributed lane re-checks registered data-bound keys only") {
    val base = ScaleCheck.DataBoundEntries.toMap
    ScaleCheck.ForcedDistributedKeys.foreach { case (key, table) =>
      assert(base.get(key).contains(table),
        s"$key -> $table is not a registered data-bound entry; the forced lane " +
          "must re-measure the same keys under the same growth bounds")
      assert(SparkEntry.queries.contains(key), s"$key has no queries entry")
    }
  }

  test("escalation factors come from the operators' own formulas — keys " +
      "that never call them are excluded (ADVICE r17)") {
    import graft.operators.Similarity._
    // hard_negatives hardcodes nprobe = numCentroids = 16 (exhaustive by
    // oracle contract) — it must not sit in any growth lane under an
    // escalation bound it never engages; its adaptive sibling carries the
    // lane coverage instead
    assert(!ScaleCheck.EscalationKeys.contains("hard_negatives"))
    assert(!ScaleCheck.DataBoundEntries.map(_._1).contains("hard_negatives"))
    assert(!ScaleCheck.ForcedDistributedKeys.map(_._1).contains("hard_negatives"))
    assert(ScaleCheck.DataBoundEntries.map(_._1).contains("hard_negatives_probe"))
    // and the probe sibling's factor IS the operator's own nprobe ratio
    val f = ScaleCheck.escalationFactor("hard_negatives_probe", 20000L, 100000L)
    val expect = adaptiveNprobe(adaptiveCentroids(100000L)).toDouble /
      adaptiveNprobe(adaptiveCentroids(20000L))
    assert(math.abs(f - expect) < 1e-12)
  }

  test("probe-index ceiling-flip keys are all registered growth-lane keys " +
      "with a documents input") {
    val base = ScaleCheck.DataBoundEntries.toMap
    ScaleCheck.ProbeIndexFlipKeys.foreach { k =>
      assert(base.get(k).contains("documents"),
        s"$k is a flip key but not a documents-input growth-lane entry")
    }
    // both correctness SFs sit far under the 256 MB ceiling: no flip, so
    // the check accepts the sf0.01 -> sf0.1 step in the default lane
    assert(ScaleCheck.probeIndexEligible(spark, "/root/testdata/sf0.01"))
    assert(ScaleCheck.probeIndexEligible(spark, "/root/testdata/sf0.1"))
  }
}
