package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated TPC-H-ish tables (see TESTDATA.md).
  *
  * Each table is a single parquet file under `\$dir/<name>.parquet`. All
  * operators take the scale-factor directory as a parameter so the same
  * plan runs at any SF (and, on a real cluster, against a partitioned
  * table root instead of a single file).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, dir: String): DataFrame = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  /** events.parquet has shipped with two `ts` physical types across
    * testdata generations: TIMESTAMP(NANOS) — which Spark 4 refuses to
    * read as a timestamp, so nanos come in as raw longs (the
    * `nanosAsLong` session conf) and are rebuilt with exact integer
    * division (`div`, not float division — epoch nanos exceed double's 53-bit
    * mantissa, and the truncation matches DuckDB's epoch_us()) — and
    * plain TIMESTAMP(MICROS), which reads as NTZ and only needs the
    * session-UTC cast to the comparable timestamp type. Dispatch on
    * the schema actually read so both generations work. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = load(s, dir, "events")
    raw.withColumn("ts", raw.schema("ts").dataType match {
      case LongType => expr("timestamp_micros(ts div 1000)")
      case _ => col("ts").cast("timestamp")
    })
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")
}
