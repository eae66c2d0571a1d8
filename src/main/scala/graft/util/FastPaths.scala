package graft.util

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{coalesce, col, count, count_distinct, length, lit, sum}

/** The one gate between a size-adaptive driver/broadcast fast path and its
  * distributed plan, in [[graft.operators.Dedup]] /
  * [[graft.operators.Similarity]] / [[graft.operators.PageRank]].
  *
  * Every fast path is a pure COST choice: both plans return identical
  * results (the parity suites pin that), so the decision lives here, once:
  *  - the four plan ceilings are the constants below; no operator takes a
  *    ceiling argument;
  *  - [[collect]] is the capped census-and-collect every row-bounded fast
  *    path uses, with the over-full guard (a stale caller census can never
  *    truncate a corpus);
  *  - [[probeIndex]] is the byte-census form behind the broadcast MinHash
  *    probe index;
  *  - `-Dgraft.force.distributed=1`, read only here, makes every gate
  *    report ineligible so the distributed plans — the ones the 100 TB
  *    story rests on — run and can be measured on corpora under the
  *    ceilings. Bench / Verify set it from `SPARK_GRAFT_*_FORCE_DISTRIBUTED`
  *    through [[forcedIf]]; tests scope it with [[forced]].
  *
  * Each census and collect job the gate runs carries its decision as the
  * Spark job description (e.g. `fastpath knn.exhaustive: 2000 <= 65536 ->
  * kernel`), visible to any `SparkListener` or the UI; the caller's own
  * description is restored afterwards. Nothing is recorded otherwise.
  *
  * Plan preconditions that are not sizes (integral id columns, the
  * exhaustive-nprobe regime) stay with the callers; the probe index's
  * integral-id and unique-id preconditions are checked here because its
  * census already carries them. */
object FastPaths {
  /** Edge ceiling of the driver graph kernels ([[graft.operators.Dedup
    * .nearDupClusters]] union-find, [[graft.operators.PageRank.pageRank]]
    * integer replay): 1M edges is ~16 MB of id pairs. */
  val GraphEdges: Long = 1000000L
  /** Estimated serialized bytes under which a MinHash history index
    * broadcasts as a probe index — the role
    * `spark.sql.autoBroadcastJoinThreshold` plays for a dim table, sized
    * for executor memory. */
  val ProbeIndexBytes: Long = 256L << 20
  /** Corpus rows under which the exhaustive and pruned kNN kernels
    * broadcast the corpus (~64 MB of vectors). */
  val KernelRows: Long = 65536L
  /** Corpus rows under which `embeddingNearDups` verifies candidate pairs
    * in a fused broadcast kernel. */
  val VerifyRows: Long = 65536L

  private val Switch = "graft.force.distributed"

  def forceDistributed: Boolean = sys.props.get(Switch).contains("1")

  /** `body` with every gate reporting ineligible; the previous setting is
    * restored afterwards. The switch is a JVM property: scope it around
    * whole runs, not around one thread's work among concurrent ones. */
  def forced[T](body: => T): T = forcedIf(on = true)(body)

  /** [[forced]] when `on`, plain `body` otherwise. */
  def forcedIf[T](on: Boolean)(body: => T): T =
    if (!on) body
    else {
      val prev = sys.props.get(Switch)
      sys.props(Switch) = "1"
      try body
      finally prev match {
        case Some(v) => sys.props(Switch) = v
        case None => sys.props.remove(Switch)
      }
    }

  /** The capped census-and-collect: `Some(all rows of ds)` when there are
    * at most `ceiling` of them, `None` (run the distributed plan) otherwise
    * or when forced. `census` is a row count the caller already took (< 0:
    * the gate takes a `limit(cap).count()`); it is not evaluated when the
    * distributed plan is forced. The collect is
    * `limit(ceiling + 1)`: driver memory is bounded by construction, and a
    * census that went stale (a caller's count of a different snapshot, a
    * source that changed between the two jobs) shows up as an over-full
    * collect, which falls through instead of truncating. */
  def collect[T](site: String, ds: Dataset[T], ceiling: Long,
      census: => Long = -1L): Option[Array[T]] = {
    if (forceDistributed) return None
    val sc = ds.sparkSession.sparkContext
    val cap = math.min(ceiling + 1, Int.MaxValue.toLong).toInt
    val known = census
    val n =
      if (known >= 0) known
      else described(sc, s"fastpath $site: census, ceiling $ceiling")(ds.limit(cap).count())
    if (n > ceiling) return None
    val rows = described(sc, s"fastpath $site: $n <= $ceiling -> kernel")(ds.limit(cap).collect())
    if (rows.length > ceiling) None else Some(rows)
  }

  /** The byte-census form behind the broadcast probe index: ONE agg over
    * `docs` counts (rows, text chars, distinct ids); the index is built
    * (`build`) only when the id column is integral (the index is keyed by
    * primitive Long), the ids are unique (a sorted primitive layout would
    * bind data to an arbitrary twin — duplicate-id corpora take the join
    * plan, which tolerates them) and `bytesFor(rows, chars)` fits
    * `ceiling`. */
  def probeIndex[T](site: String, docs: DataFrame, textCol: String, idCol: String,
      bytesFor: (Long, Long) => Long, ceiling: Long = ProbeIndexBytes)(build: => T): Option[T] = {
    if (forceDistributed || !IdTypes.integral(docs.schema(idCol).dataType)) return None
    val sc = docs.sparkSession.sparkContext
    val r = described(sc, s"fastpath $site: census, ceiling $ceiling B") {
      docs.agg(count(lit(1)), coalesce(sum(length(col(textCol))), lit(0L)),
        count_distinct(col(idCol))).head()
    }
    val (rows, ids) = (r.getLong(0), r.getLong(2))
    val bytes = bytesFor(rows, r.getLong(1))
    if (bytes > ceiling || ids != rows) None
    else Some(described(sc, s"fastpath $site: $bytes B <= $ceiling B -> index")(build))
  }

  private val JobDescription = "spark.job.description"

  private def described[T](sc: SparkContext, what: String)(body: => T): T = {
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(what)
    try body finally sc.setLocalProperty(JobDescription, prev)
  }
}
