package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // SPARK_GRAFT_VERIFY_FORCE_DISTRIBUTED=1: same switch as Bench's — every
  // size-adaptive fast path reports ineligible (graft.util.FastPaths), so
  // the dump exercises the DISTRIBUTED plans and the DuckDB compare gates
  // the 100 TB path, not just the under-ceiling one.
  def main(args: Array[String]): Unit =
    graft.util.FastPaths.forcedIf(
      sys.env.get("SPARK_GRAFT_VERIFY_FORCE_DISTRIBUTED").contains("1"))(verify(args))

  private def verify(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    if (graft.util.FastPaths.forceDistributed)
      println("[verify] forced-distributed: every size-adaptive fast path ineligible")
    // SPARK_GRAFT_VERIFY_NO_GATES=1: skip the eager APPROXIMATION-QUALITY
    // gates (recall / keep-agreement floors, calibrated at the correctness
    // SFs) while keeping the oracle dump itself — used to hash-verify the
    // approximate entries on synthesized scale decades, where the
    // occupancy-constant adaptive banding trades recall for linear cost by
    // design (the oracle replays the SAME approximation, so the compare is
    // still exact). Never set by the driver: its gate keeps the floors.
    if (sys.env.get("SPARK_GRAFT_VERIFY_NO_GATES").contains("1")) {
      sys.props("graft.bench") = "1"
      println("[verify] eager approximation-quality gates skipped (oracle compare unaffected)")
    }
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c restricts the dump to named queries
    // (fast local iteration on one entry); unset = all. oracle_sql.json is
    // always written in full.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
