package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale-point synthesizer: writes an sf-N× sibling of an existing testdata
 * dir for the data-bound tables (`documents`, `embeddings`, `events`) so
 * the sf1/sf10 correctness bands and the sf1 side-boards get a decade of
 * data ABOVE the largest driver-provided SF — the regime where the corpus
 * genuinely spans many parquet splits and the single-split floor excuse
 * stops applying.
 *
 * The construction is replication with per-copy isomorphism, NOT naive
 * duplication (which would give every doc `factor-1` exact twins and blow
 * the near-dup pair count quadratically — a different workload, not a
 * bigger one):
 *
 *  - `documents`: copy k caesar-shifts every ASCII letter by k. Lengths,
 *    token boundaries, within-copy duplicate/near-dup structure and char
 *    statistics are preserved EXACTLY (each copy is isomorphic to the
 *    source corpus), while cross-copy word shingles are disjoint — so
 *    pair density per row is constant and the corpus is `factor`× the
 *    work, which is exactly what a scale point must hold fixed.
 *    `doc_id` remaps to `id*factor + k` (unique, integral); `n_chars` is
 *    length-preserved by construction.
 *  - `embeddings`: copy k rotates the embedding dimensions by k positions —
 *    an orthogonal transform, so norms and all within-copy cosines are
 *    preserved exactly; cross-copy similarities distribute like background
 *    pairs. `vec_id` remaps like `doc_id`.
 *  - `events`: copy k offsets `user_id`/`event_id` past the source max;
 *    timestamps are untouched, so every window holds `factor`× the keys —
 *    the streaming-state scale axis.
 *
 * Output is written with `defaultParallelism` splits per table: the POINT
 * of the new SF is a multi-split scan.
 *
 * Run: `SPARK_GRAFT_SCALE_SRC=/root/testdata/sf0.1
 *       SPARK_GRAFT_SCALE_DST=testdata-gen/sf1
 *       sbt "runMain graft.ScaleData"`
 */
object ScaleData {

  private val Lower = ('a' to 'z').mkString
  private val Upper = ('A' to 'Z').mkString

  /** translate() mapping that caesar-shifts letters by k (identity at k=0). */
  private def caesar(text: org.apache.spark.sql.Column, k: Int) = {
    val shift = ((k % 26) + 26) % 26
    if (shift == 0) text
    else translate(text, Lower + Upper,
      Lower.drop(shift) + Lower.take(shift) + Upper.drop(shift) + Upper.take(shift))
  }

  /** Copy-unique SUBSTITUTION alphabet (identity at k=0) — the pigeonhole
    * fix for COMPOSED decades (round 17): caesar has only 26 distinct
    * shifts, so once scale stages compose past alphabet size (sf1's
    * factor 10 × a factor-5 third step = 50 copy paths) distinct paths
    * land on the same total shift and the "copies are never near-dups"
    * design breaks — identical-text cliques whose pair mass grows
    * QUADRATICALLY with the copy count (measured: dedup_minhash sf1→sf5
    * wall ratio 33× on a 5× step, all of it planted duplicate cliques,
    * none of it plan). A seeded random permutation per (stage, k) makes
    * composed mappings distinct products in S₂₆ — no two copy paths
    * collide — while staying letter-frequency-preserving like caesar
    * (shingle statistics shift, text length and tokenization don't).
    * Stage-1 (sf0.1 → sf1) keeps caesar so every committed sf1 artifact
    * stays byte-stable; enable with SPARK_GRAFT_SCALE_CIPHER=perm for
    * the decades above.
    *
    * The seed mixes the STAGE, not only k (ADVICE r17): with a k-only
    * seed, two composed perm stages draw the SAME permutation family, so
    * copy paths (j, 0) and (0, j) compose to the identical total mapping —
    * re-planting the identical-text duplicate pairs the cipher exists to
    * prevent. `stage` defaults to the cumulative copy count of the SOURCE
    * dir (1 for a driver SF, `factor` after one stage, …) — automatically
    * distinct at every composed level, no operator input needed. k = 0
    * stays the identity by design: copy 0 IS the source corpus. */
  private def permuted(text: org.apache.spark.sql.Column, k: Int, stage: Long = 1L) = {
    if (k == 0) text
    else {
      val r = new scala.util.Random(0x5ca1eda7aL + stage * 0x9E3779B97F4A7C15L + k)
      val lower = r.shuffle(('a' to 'z').toList).mkString
      translate(text, Lower + Upper, lower + lower.toUpperCase)
    }
  }

  /** id*factor + k: unique iff source ids are unique, stays integral. */
  private def remapId(c: org.apache.spark.sql.Column, factor: Int, k: Int) =
    c * factor + k

  def scaleDocuments(df: DataFrame, factor: Int, permCipher: Boolean = false,
      stage: Long = 1L): DataFrame =
    (0 until factor).map { k =>
      df.select(df.columns.map {
        case "doc_id" => remapId(col("doc_id"), factor, k).as("doc_id")
        case "text" =>
          (if (permCipher) permuted(col("text"), k, stage) else caesar(col("text"), k)).as("text")
        case c => col(c)
      }.toIndexedSeq: _*)
    }.reduce(_ unionByName _)

  def scaleEmbeddings(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      df.select(df.columns.map {
        case "vec_id" => remapId(col("vec_id"), factor, k).as("vec_id")
        case "embedding" if k > 0 =>
          // circular dimension rotation by k MOD dim: orthogonal, norm- and
          // within-copy-cosine-preserving. The modulo guards factor > dim —
          // an unreduced k ≥ dim would make the first slice length negative
          // (malformed arrays, not a rotation)
          val sh = pmod(lit(k), size(col("embedding")))
          when(sh === 0, col("embedding")).otherwise(concat(
            slice(col("embedding"), sh + 1, size(col("embedding")) - sh),
            slice(col("embedding"), lit(1), sh))).as("embedding")
        case c => col(c)
      }.toIndexedSeq: _*)
    }.reduce(_ unionByName _)

  def scaleEvents(df: DataFrame, factor: Int): DataFrame = {
    // offset id-like columns past the source max so copies never collide;
    // every other column (ts included) passes through
    val idCols = df.columns.filter(c => c == "user_id" || c == "event_id")
    val offsets = if (idCols.isEmpty) Map.empty[String, Long]
      else {
        val row = df.agg(
          idCols.head -> "max",
          idCols.tail.map(c => c -> "max").toIndexedSeq: _*).head()
        idCols.zipWithIndex.map { case (c, i) => c -> (row.getAs[Number](i).longValue + 1L) }.toMap
      }
    (0 until factor).map { k =>
      df.select(df.columns.map {
        case c if offsets.contains(c) => (col(c) + lit(offsets(c) * k)).as(c)
        case c => col(c)
      }.toIndexedSeq: _*)
    }.reduce(_ unionByName _)
  }

  /** Dim table for the stream-static enrich entry (round 16 — closes the
    * BENCH_sf1_streaming capture note that the data-bound sf1 dir omitted
    * the customer dim): copy k keeps the customers the event stream
    * actually references (c_custkey ≤ the source's max user_id) and
    * offsets their keys by the SAME per-copy offset [[scaleEvents]]
    * applies to user_id, attributes untouched — so each scaled event
    * matches a customer carrying its source event's attributes and the
    * enriched stream is `factor` relabeled copies of the source result
    * (the isomorphism a scale point needs). Customers no event ever
    * references are dropped rather than replicated: the dim stays
    * events-matched at every copy instead of diluting join selectivity
    * differently at each scale. */
  def scaleCustomer(cust: DataFrame, events: DataFrame, factor: Int): DataFrame = {
    val maxUser = events.agg(max(col("user_id"))).head().getAs[Number](0).longValue
    val off = maxUser + 1L
    val base = cust.filter(col("c_custkey") <= maxUser)
    (0 until factor).map { k =>
      base.select(cust.columns.map {
        case "c_custkey" => (col("c_custkey") + lit(off * k)).as("c_custkey")
        case c => col(c)
      }.toIndexedSeq: _*)
    }.reduce(_ unionByName _)
  }

  /** Orders scaled into the EVENTS-MATCHED customer key space: o_custkey
    * remaps to (o_custkey mod (maxUser+1)) + off·k, so every order matches
    * exactly one [[scaleCustomer]] row and per-copy join fanout is
    * constant; o_orderkey offsets past the source max per copy. */
  def scaleOrders(orders: DataFrame, events: DataFrame, factor: Int): DataFrame = {
    val maxUser = events.agg(max(col("user_id"))).head().getAs[Number](0).longValue
    val off = maxUser + 1L
    val maxOrd = orders.agg(max(col("o_orderkey"))).head().getAs[Number](0).longValue
    (0 until factor).map { k =>
      orders.select(orders.columns.map {
        case "o_orderkey" => (col("o_orderkey") + lit((maxOrd + 1L) * k)).as("o_orderkey")
        case "o_custkey" => (pmod(col("o_custkey"), lit(off)) + lit(off * k)).as("o_custkey")
        case c => col(c)
      }.toIndexedSeq: _*)
    }.reduce(_ unionByName _)
  }

  /** Cumulative copy count of a dir: 1 for a driver-provided SF, read from
    * the `_scale_meta.json` marker this synthesizer writes alongside its
    * own output. The marker is what makes composed stages SELF-AWARE — the
    * pigeonhole guard and the perm-seed stage tag both key off it. */
  def cumulativeCopies(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir, "_scale_meta.json")
    if (!java.nio.file.Files.exists(p)) 1L
    else {
      val s = java.nio.file.Files.readString(p)
      """"copies"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(1L)
    }
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DST", "testdata-gen/sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val splits = spark.sparkContext.defaultParallelism
    def write(name: String, scaled: DataFrame): Unit = {
      scaled.repartition(splits)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      val n = spark.read.parquet(s"$dst/$name.parquet").count()
      println(s"[scaledata] $name: ${n} rows, $splits splits -> $dst/$name.parquet")
    }
    val events = spark.read.parquet(s"$src/events.parquet")
    // the join tables exist only in driver SFs (orders) / some scale
    // dirs (customer) — a source without them (e.g. a previously
    // synthesized decade being re-scaled) skips them instead of failing
    // after the data-bound tables already wrote
    def ifPresent(name: String)(f: DataFrame => Unit): Unit = {
      val p = java.nio.file.Paths.get(src, s"$name.parquet")
      if (java.nio.file.Files.exists(p)) f(spark.read.parquet(p.toString))
      else println(s"[scaledata] $name: absent in $src, skipped")
    }
    // stage accounting for composed decades: the source's cumulative copy
    // count seeds the perm family (distinct per stage — see [[permuted]])
    // and drives the PIGEONHOLE GUARD (round-17 verdict #6): caesar has 26
    // distinct shifts, so once srcCopies × factor exceeds 26 distinct copy
    // paths collide onto the same total shift — identical-text cliques
    // with quadratic pair mass, silently. Past that point a caesar request
    // AUTO-SWITCHES to perm (loudly): every decade stays near-dup-free
    // instead of failing late inside a long scale-point run. sf1 from a
    // driver SF (1 × 10 = 10 ≤ 26) keeps caesar — committed sf1 artifacts
    // stay byte-stable.
    val srcCopies = cumulativeCopies(src)
    val totalCopies = srcCopies * factor
    val permRequested = sys.env.get("SPARK_GRAFT_SCALE_CIPHER").contains("perm")
    // COMPOSED caesar stages collide even under 26 total paths (round-18
    // advice): copy paths (j,0) and (0,j) share total shift j, so any
    // srcCopies > 1 × factor > 1 composition plants identical-text cliques
    // regardless of the total. The only collision-free caesar case is a
    // SINGLE stage (srcCopies == 1 or factor == 1) within 26 shifts.
    val composed = srcCopies > 1 && factor > 1
    val permCipher = permRequested || totalCopies > 26 || composed
    if (permCipher && !permRequested)
      println(s"[scaledata] caesar unsafe for $srcCopies source x $factor copy paths " +
        (if (composed) "(composed stages share total shifts by pigeonhole)"
         else "(exceeds the 26 distinct caesar shifts)") +
        " - auto-switching to the perm cipher (set SPARK_GRAFT_SCALE_CIPHER=perm to silence)")
    write("documents", scaleDocuments(spark.read.parquet(s"$src/documents.parquet"),
      factor, permCipher, stage = srcCopies))
    write("embeddings", scaleEmbeddings(spark.read.parquet(s"$src/embeddings.parquet"), factor))
    write("events", scaleEvents(events, factor))
    ifPresent("orders")(o => write("orders", scaleOrders(o, events, factor)))
    ifPresent("customer")(c => write("customer", scaleCustomer(c, events, factor)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dst, "_scale_meta.json"),
      s"""{"copies":$totalCopies,"cipher":"${if (permCipher) "perm" else "caesar"}","factor":$factor,"src":"$src"}""")
    spark.stop()
  }
}
