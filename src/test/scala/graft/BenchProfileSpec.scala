package graft

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

import graft.util.FastPaths

class BenchProfileSpec extends SparkSpec {
  test("Bench's profile: a sample's jobs by phase, gate decisions first, then the graft line") {
    val sc = spark.sparkContext
    val profile = new Bench.KeyProfile
    sc.addSparkListener(profile)
    try {
      spark.range(7).count() // outside any sample: not counted
      val line = profile.sample(sc, "k") {
        assert(FastPaths.collect("bench.spec", spark.range(3), ceiling = 5).map(_.length) === Some(3))
        spark.range(10).count(); new Exception().getStackTrace.head.getLineNumber
      }
      // a census is limit + count: AQE runs its shuffle stage as a job of its own
      eventually(timeout(Span(30, Seconds))) {
        val phases = profile.phasesOf("k").map { case (p, c) => p -> c.jobs }
        assert(phases.size === 3, phases)
        assert(phases.take(2) === Seq(
          "fastpath bench.spec: census, ceiling 5" -> 2,
          "fastpath bench.spec: 3 <= 5 -> kernel" -> 1))
        val (site, jobs) = phases(2)
        assert(site.startsWith("graft.BenchProfileSpec") &&
          site.endsWith(s"(BenchProfileSpec.scala:$line)"), site)
        assert(jobs === 2)
        // stage figures land on their own events, after the job starts
        assert(profile.json("k").startsWith("""{"samples":1,"jobs":5,"stages":5,"tasks":"""))
      }
      assert(profile.taskSec("k").size === 1)
      assert(profile.phasesOf("other").isEmpty)
    } finally sc.removeSparkListener(profile)
  }
}
