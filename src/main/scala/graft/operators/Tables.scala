package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table loaders for the TPC-H-ish test star schema. */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.parquet has shipped with two physical encodings for `ts`:
    * TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read nanos
    * as long via the legacy conf and convert) and plain timestamp[us]
    * (which Spark reads natively, as TIMESTAMP_NTZ when the file carries no
    * UTC-adjustment flag). Inspect the loaded schema and normalize either
    * encoding to a µs-precision TimestampType column with identical values
    * (matches DuckDB, whose TIMESTAMP is also naive µs-precision; the
    * session timezone is pinned to UTC so the NTZ→TZ cast is value-exact). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(spark, dir, "events"))
  }

  /** Normalize the `ts` column of an events DataFrame from either physical
    * encoding to µs TimestampType. Branches on the analyzed schema only, so
    * it works identically on batch and streaming DataFrames. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        // integer DIV: ns→µs on int64 (a double division here loses 1µs ulps)
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** The round-9 events regeneration taught the lesson: driver testdata can
    * change physical type between rounds. The two LLM-pipeline tables get
    * the same insurance as events — integer id/count columns normalized to
    * long (a no-op cast today, analysis-time eliminated), so a future
    * int32-encoded regeneration can't break every downstream operator. */
  def documents(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "documents")
    raw.select(raw.columns.map {
      case c @ ("doc_id" | "n_chars") => col(c).cast("long").as(c)
      case c => col(c)
    }.toIndexedSeq: _*)
  }
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "embeddings")
    raw.select(raw.columns.map {
      case c @ "vec_id" => col(c).cast("long").as(c)
      case c => col(c)
    }.toIndexedSeq: _*)
  }
}
