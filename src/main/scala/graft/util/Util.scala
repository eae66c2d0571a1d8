package graft.util

/** Typed property getters over a string map
  * (reference: legacy/common/util/RocketMQUtils.java:30-70). */
object Props {
  def getInt(props: Map[String, String], key: String, default: Int): Int =
    props.get(key).map(_.trim.toInt).getOrElse(default)

  def getLong(props: Map[String, String], key: String, default: Long): Long =
    props.get(key).map(_.trim.toLong).getOrElse(default)

  def getBoolean(props: Map[String, String], key: String, default: Boolean): Boolean =
    props.get(key).map(_.trim.toBoolean).getOrElse(default)

  def getString(props: Map[String, String], key: String, default: String): String =
    props.getOrElse(key, default)
}

/** Volatile running flag shared between a driver loop and its poll threads
  * (reference: legacy/common/util/RunningChecker.java). */
class RunningChecker extends Serializable {
  @volatile private var running = false
  def isRunning: Boolean = running
  def setRunning(r: Boolean): Unit = running = r
}

/** Filesystem helpers shared by the queue log, bucketed tables and
  * streaming sinks. */
object Fs {
  /** Recursively delete `path` if it exists, closing the walk stream
    * (an unclosed Files.walk holds directory handles until GC). */
  def deleteRecursively(path: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(path)) {
      val walk = java.nio.file.Files.walk(path)
      try {
        walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      } finally walk.close()
    }
  }

  /** A per-process scratch directory under java.io.tmpdir, deleted on JVM
    * exit. Mutable per-JVM caches (the once-per-JVM IVF index, the MQ
    * session topic logs) must NOT share a path across processes: two graft
    * JVMs on one machine would Overwrite/delete each other's files
    * mid-read (the bucketed-table collision class, observed as
    * FAILED_READ_FILE in a concurrent board run). The pid suffix keeps the
    * within-JVM write-once-reuse contract while isolating processes; the
    * shutdown hook bounds /tmp at one copy per live JVM. */
  def processScopedTmpDir(name: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"$name-p${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(p)
    cleanupHook
    scopedDirs.put(p.toString, ())
    p
  }

  private val scopedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Unit]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scopedDirs.keySet.forEach(p =>
        try deleteRecursively(java.nio.file.Paths.get(p))
        catch { case _: Throwable => () })))
}

/** Partition-count-gated pre-kernel "spread": the ceiling-gate form of the
  * bench-scale repartition. At small scale factors a whole corpus arrives
  * in ONE parquet split, so an explode/md5-heavy kernel downstream runs
  * single-task; at production scale the scan already carries thousands of
  * splits and an unconditional `repartition(defaultParallelism)` would add
  * a pointless full shuffle of raw text — and on a big cluster COLLAPSE a
  * many-thousand-partition scan down to the core count. `ifNarrow` applies
  * the spread only when the input's actual partition count is below the
  * session parallelism, which is exactly the regime the spread exists for;
  * otherwise the input passes through untouched. Results are identical
  * either way (repartition is a pure re-bucketing) — this gates COST, not
  * semantics, the same discipline as every broadcast/kernel ceiling in
  * [[graft.operators.Dedup]] / [[graft.operators.Similarity]]. */
object Spread {
  /** `df` repartitioned to `defaultParallelism` iff it currently has fewer
    * partitions than that; `df` unchanged otherwise. Inspecting the
    * partition count plans the query (driver-side only, no job). */
  def ifNarrow(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}

/** Plan-selection guard for the driver/fused fast paths in
  * [[graft.operators.Dedup]] / [[graft.operators.Similarity]] /
  * [[graft.operators.PageRank]]: those kernels index rows by a primitive
  * `Long` id, so they are eligible only when the id column is an integral
  * type. Any other id type (string UUIDs, decimals) falls through to the
  * distributed plan, which is type-agnostic — and the fast paths cast
  * their output ids back to the INPUT id type, so plan selection (which is
  * data-size-driven) can never change the result schema. */
object IdTypes {
  import org.apache.spark.sql.types._
  def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
}

/** Eager materialization with lineage cut, fault-tolerance-aware. The
  * iterative operators (pointer-jumping connected components, PageRank)
  * must cut lineage every few iterations or the plan tree grows without
  * bound — but `localCheckpoint` stores blocks on executors with NO
  * recovery path: on a real cluster, losing one executor fails the query
  * instead of recomputing. `cut` therefore uses RELIABLE checkpointing
  * (write to the configured checkpoint directory — HDFS/object store on a
  * cluster) whenever `sparkContext.setCheckpointDir` has been called, and
  * falls back to `localCheckpoint` only when no directory is configured —
  * i.e. local mode, where executor loss is JVM death and block replay buys
  * nothing. Results are identical either way; only durability changes.
  *
  * Every one-shot materialization in the operator pack routes through the
  * [[Materialize.MaterializeOps.cutLineage]] postfix (round 17): the same
  * "`cache()` would pin a plan in the session CacheManager forever" reason
  * that picked `localCheckpoint` over `cache()` in the lazy builders holds
  * for the reliable variant, and a cluster that sets a checkpoint
  * directory gets executor-loss survival at every cut site, not only the
  * iterative ones. Reliable checkpoint files are reclaimed by the context
  * cleaner when `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * (set it on long-running clusters; local runs use localCheckpoint whose
  * blocks die with the frame).
  *
  * The reliable path PERSISTS around the checkpoint (round 18): RDD
  * checkpointing runs as a separate job AFTER the eager count, and without
  * a persist that job recomputes the whole plan to write the checkpoint
  * files — every "kernel runs once" cut site would pay its dominant pass
  * twice exactly on the clusters the reliable variant targets. With the
  * persist, the count job populates the cache and the checkpoint job reads
  * blocks instead of recomputing; the cache entry is dropped immediately
  * after (blocking=false — reclamation races nothing, the checkpoint files
  * are already durable). `localCheckpoint` needs none of this: it IS the
  * persisted blocks. */
object Materialize {
  def cut[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val persisted = ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try persisted.checkpoint(eager = true)
      finally persisted.unpersist(blocking = false)
    } else ds.localCheckpoint(eager = true)

  /** LAZY variant of [[cut]] for the driver-gap lanes (round 21): an eager
    * cut is its own sequential driver job round (~80 ms of plan/schedule
    * latency at bench scale, one full pass at any scale), but at most cut
    * sites the NEXT action reads every partition anyway — a census
    * aggregate, a bounded collect, or the final sink. `localCheckpoint
    * (eager = false)` persists the blocks inside that first consuming job
    * (Spark finalizes local checkpoints after any job that computes the
    * RDD, launching a fill-in job for partitions the action skipped, so
    * partial first actions stay correct), and later consumers read the
    * persisted blocks exactly as with the eager form. Same rows, same
    * partitioning, same single-computation guarantee — one fewer job
    * round. On a cluster with a checkpoint directory configured this
    * falls back to the RELIABLE eager path unchanged: there the cut is
    * about executor-loss durability, and the reliable protocol needs the
    * eager count to avoid recomputing the plan into the checkpoint files
    * (see [[cut]]). */
  def cutAtFirstAction[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) cut(ds)
    else ds.localCheckpoint(eager = false)

  /** [[cut]] as a postfix, so operator code reads like the
    * `.localCheckpoint()` it replaces. */
  implicit final class MaterializeOps[T](private val ds: org.apache.spark.sql.Dataset[T]) extends AnyVal {
    def cutLineage(): org.apache.spark.sql.Dataset[T] = cut(ds)
    def cutLineageLazy(): org.apache.spark.sql.Dataset[T] = cutAtFirstAction(ds)
  }
}
