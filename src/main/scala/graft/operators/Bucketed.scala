package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/**
 * Bucketed co-located joins: pay the partitioning shuffle ONCE at write
 * time, then every equi-join on the bucket key runs with zero exchange on
 * either side. At 100 TB this is the difference between re-shuffling the
 * fact table per query and never shuffling it again — the Spark-native
 * analog of the broker's fixed queue partitioning (messages hash-routed to
 * queues once, every consumer reads aligned splits; the `graft-mq` writer
 * clusters rows on their key columns into `numQueues` queues the same way).
 *
 * Spark bucketing requires a saved table (the bucket spec lives in the
 * catalog), so these helpers wrap saveAsTable/table rather than plain
 * parquet paths.
 */
object Bucketed {

  /** Persist `df` bucketed by `key` into `numBuckets` catalog buckets.
    * `table` is a LOGICAL name: the physical catalog table is always the
    * pid-scoped [[scopedName]] — process isolation is enforced here, not at
    * call sites, so no caller can accidentally register a shared warehouse
    * directory for deletion in this JVM's exit hook while another JVM is
    * still reading it. */
  def writeBucketed(
      df: DataFrame, table: String, key: String, numBuckets: Int,
      sortByKey: Boolean = true): Unit = {
    val phys = scopedName(table)
    dropStale(df.sparkSession, phys)
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, key)
    (if (sortByKey) w.sortBy(key) else w).saveAsTable(phys)
    cleanupHook
    createdDirs.put(warehouseDir(df.sparkSession, phys).toString, ())
  }

  /** Build signature already persisted per table this JVM — the bucketed
    * write is a ONCE-per-corpus indexing cost (that is the entire point of
    * bucketing: pay the partitioning shuffle at write time, join forever
    * after with zero Exchange), so rebuilding it on every query invocation
    * both misstates the operator's cost and made the bench time the two
    * saveAsTable writes instead of the join. The catalog is in-memory
    * per-JVM, so a fresh JVM pays one rebuild — same contract as
    * [[MqRoundtrip]]'s per-(kind, dir) topic logs. */
  private val built = scala.collection.concurrent.TrieMap[String, (String, String, Int)]()

  /** Catalog tables live in the SHARED spark-warehouse directory, and the
    * in-memory catalog is per-JVM — so two concurrent graft JVMs (e.g. a
    * bench and a verify run on the same machine) would each Overwrite the
    * same `spark-warehouse/<table>` path and read each other's half-written
    * files (observed as FAILED_READ_FILE.FILE_NOT_EXIST mid-join). Table
    * names are therefore process-scoped; the JVM cleans its own warehouse
    * dirs on exit, and never touches another process's. */
  private val pidSuffix = "_p" + ProcessHandle.current().pid()

  /** Process-scoped physical name for a logical bucketed-table name.
    * Idempotent, so already-scoped names pass through unchanged. */
  def scopedName(table: String): String =
    if (table.endsWith(pidSuffix)) table else table + pidSuffix

  private lazy val cleanupHook: Unit = {
    // per-path try: Spark's own shutdown hooks run concurrently and may
    // still be releasing files; one failed delete must not strand the rest
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      createdDirs.keys.foreach(p =>
        try graft.util.Fs.deleteRecursively(java.nio.file.Paths.get(p))
        catch { case _: Throwable => () })))
  }
  private val createdDirs = scala.collection.concurrent.TrieMap[String, Unit]()

  /** [[writeBucketed]] that skips the write when `table` was already built
    * this JVM for the same (source `dir`, key, numBuckets) and is still in
    * the catalog. */
  def ensureBucketed(
      df: DataFrame, table: String, dir: String, key: String,
      numBuckets: Int): Unit = {
    val phys = scopedName(table)
    val sig = (dir, key, numBuckets)
    if (!built.get(phys).contains(sig) ||
        !df.sparkSession.catalog.tableExists(phys)) {
      writeBucketed(df, phys, key, numBuckets)
      built(phys) = sig
    }
  }

  /**
   * Drop `table` AND remove its default warehouse location. The catalog is
   * per-session but `spark-warehouse/<table>` survives the JVM (it's
   * gitignored), so a fresh session whose catalog has never heard of the
   * table still dies with LOCATION_ALREADY_EXISTS on saveAsTable — drop
   * alone doesn't cover the orphaned-directory case.
   */
  private def warehouseDir(spark: SparkSession, table: String): java.nio.file.Path = {
    val warehouse = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    new java.io.File(
      if (warehouse.getScheme == null) warehouse.toString else warehouse.getPath,
      table.toLowerCase).toPath
  }

  private def dropStale(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    graft.util.Fs.deleteRecursively(warehouseDir(spark, table))
  }

  /**
   * Join two tables bucketed on the same key with the same bucket count —
   * the MERGE hint pins a sort-merge join, which with aligned buckets plans
   * with NO Exchange on either side (asserted in the suite). Without the
   * hint a small side could flip to broadcast — also shuffle-free but not
   * the co-location this helper promises, and a silent bucket-count
   * mismatch would quietly reintroduce the shuffle under it.
   */
  def bucketedJoin(
      spark: SparkSession, leftTable: String, rightTable: String,
      key: String): DataFrame =
    spark.table(scopedName(leftTable)).hint("merge")
      .join(spark.table(scopedName(rightTable)), key)

  /**
   * Query entry (oracle-checked): orders ⋈ customer through the bucketed
   * path — both sides persisted bucketed-by-custkey (once per JVM+dir via
   * [[ensureBucketed]]; repeat invocations measure the JOIN, which is what
   * bucketing buys), then the co-located merge join. The result must equal
   * the plain-join oracle row for row (same SQL as `skew_join_salted`),
   * proving co-location changes the PLAN (zero Exchange, asserted in the
   * suite) and not the ANSWER.
   */
  def bucketedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey").as("custkey"), col("o_totalprice"))
    val customer = Tables.customer(spark, dir)
      .select(col("c_custkey").as("custkey"), col("c_name"), col("c_mktsegment"))
    val (tOrders, tCustomer) = ("graft_bkt_orders", "graft_bkt_customer")
    ensureBucketed(orders, tOrders, dir, "custkey", numBuckets = 8)
    ensureBucketed(customer, tCustomer, dir, "custkey", numBuckets = 8)
    bucketedJoin(spark, tOrders, tCustomer, "custkey")
      .select(col("o_orderkey"), col("custkey"), col("c_name"), col("c_mktsegment"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }
}
