package graft.util

import graft.SparkSpec
import graft.operators.{Dedup, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** The one fast-path gate: its ceilings, its over-full guard, the scoped
  * forced-distributed switch, and the decision it writes into the Spark
  * job description. Operator-level parity (default plan == forced plan)
  * lives with each operator's suite. */
class FastPathsSpec extends SparkSpec with Eventually {
  import spark.implicits._

  private def rows(n: Int) = spark.range(n).as[Long]

  test("collect: all rows under the ceiling, None over it or when forced") {
    assert(FastPaths.collect("t", rows(5), ceiling = 5).map(_.toSet) ===
      Some((0L until 5L).toSet))
    assert(FastPaths.collect("t", rows(6), ceiling = 5).isEmpty)
    assert(FastPaths.forced(FastPaths.collect("t", rows(5), ceiling = 5)).isEmpty)
    assert(FastPaths.collect("t", rows(0), ceiling = 5).map(_.length) === Some(0))
  }

  test("collect: a stale caller census falls through instead of truncating") {
    // the census says 2 rows, the frame holds 6: the capped collect comes
    // back over-full and the caller must run its distributed plan
    assert(FastPaths.collect("t", rows(6), ceiling = 5, census = 2L).isEmpty)
    // an honest census is used as is (no census job of the gate's own)
    assert(FastPaths.collect("t", rows(4), ceiling = 5, census = 4L).map(_.length) === Some(4))
    // and a census over the ceiling never collects
    assert(FastPaths.collect("t", rows(4), ceiling = 5, census = 9L).isEmpty)
  }

  test("forced is scoped: the previous switch value comes back, even on a throw") {
    assert(!FastPaths.forceDistributed)
    FastPaths.forced {
      assert(FastPaths.forceDistributed)
      FastPaths.forced(assert(FastPaths.forceDistributed))
      assert(FastPaths.forceDistributed)
    }
    assert(!FastPaths.forceDistributed)
    intercept[IllegalStateException](FastPaths.forced(throw new IllegalStateException("x")))
    assert(!FastPaths.forceDistributed)
    FastPaths.forcedIf(on = false)(assert(!FastPaths.forceDistributed))
  }

  test("the decision is named in the job description: under, over and forced") {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    // every job runs under a caller description the gate must restore;
    // a sentinel job marks the end of each case on the listener bus
    def descriptions(body: => Unit): Seq[String] = {
      seen.clear()
      sc.setJobDescription("caller")
      try {
        body
        assert(sc.getLocalProperty("spark.job.description") === "caller")
        sc.setJobDescription("sentinel")
        spark.range(1).count()
      } finally sc.setJobDescription(null)
      eventually(timeout(Span(30, Seconds)))(assert(seen.contains("sentinel")))
      seen.toArray(Array.empty[String]).toSeq.filter(_.startsWith("fastpath"))
    }
    sc.addSparkListener(listener)
    try {
      val under = descriptions(FastPaths.collect("g.under", rows(3), ceiling = 5))
      assert(under.contains("fastpath g.under: census, ceiling 5"), under)
      assert(under.contains("fastpath g.under: 3 <= 5 -> kernel"), under)
      val over = descriptions(FastPaths.collect("g.over", rows(9), ceiling = 5))
      assert(over.contains("fastpath g.over: census, ceiling 5"), over)
      assert(!over.exists(_.endsWith("-> kernel")), over)
      // forced: no census and no collect — the gate runs no job at all
      val forced = descriptions(FastPaths.forced(FastPaths.collect("g.forced", rows(3), ceiling = 5)))
      assert(forced.isEmpty, forced)
    } finally sc.removeSparkListener(listener)
  }

  test("probeIndex: byte ceiling, integral ids and unique ids gate the build") {
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") % 3 =!= 0)
    def gate(df: org.apache.spark.sql.DataFrame, ceiling: Long = FastPaths.ProbeIndexBytes) =
      FastPaths.probeIndex("t", df, "text", "doc_id",
        Dedup.probeIndexBytesFor(_, _, 16, 64), ceiling)("built")
    assert(gate(docs) === Some("built")) // test corpus sits far under the ceiling
    // a tiny ceiling refuses to build (the distributed plan's regime)
    assert(gate(docs, ceiling = 1024).isEmpty)
    assert(gate(docs, ceiling = 1).isEmpty)
    assert(gate(docs.withColumn("doc_id", col("doc_id").cast("string"))).isEmpty)
    assert(gate(docs.withColumn("doc_id", lit(1L))).isEmpty)
    assert(FastPaths.forced(gate(docs)).isEmpty)
  }
}
