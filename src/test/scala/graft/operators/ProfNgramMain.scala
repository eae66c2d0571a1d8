package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** Scratch phase profiler for ngram_jaccard (test scope, not shipped). */
object ProfNgramMain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", false)
      .appName("prof-ngram").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = Tables.documents(spark, dir)
    println(s"[prof] docs=${docs.count()} chars=${docs.agg(sum(length(col("text")))).head.getLong(0)}")
    t("warm_fused") { Dedup.ngramJaccard(docs, threshold = 0.5).count() }
    for (i <- 1 to 2) t(s"fused_$i") { Dedup.ngramJaccard(docs, threshold = 0.5).count() }
    for (i <- 1 to 2) t(s"join_$i") {
      graft.util.FastPaths.forced(Dedup.ngramJaccard(docs, threshold = 0.5).count())
    }
    // phase decomposition of the fused path
    val sigs = t("sign") { val s = Dedup.minHashSignatures(docs).localCheckpoint(); s.count(); s }
    val idx = t("build_index") {
      Dedup.buildHistoryProbeIndex(docs, sigs, Dedup.historyLshBands(sigs)).get
    }
    println(s"[prof] buckets=${idx.numBuckets} docs=${idx.numDocs}" +
      s" shingleCells=${idx.shingles.iterator.filter(_ != null).map(_.length.toLong).sum}")
    val bc = spark.sparkContext.broadcast(idx)
    for (i <- 1 to 2) t(s"probe_$i") { Dedup.nearDupsWithProbeIndex(docs, bc).count() }
    // candidate / est-passing volumes
    val nPairs = t("count_candidates") {
      val b = Dedup.lshBands(sigs)
      b.select(col("doc_id").as("a"), col("band"), col("band_hash"))
        .join(b.select(col("doc_id").as("b"), col("band"), col("band_hash")), Seq("band", "band_hash"))
        .filter(col("a") < col("b")).select("a", "b").distinct().count()
    }
    println(s"[prof] distinct candidate pairs = $nPairs")
    spark.stop()
  }
}
