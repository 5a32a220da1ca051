package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  * Plain `spark.read.parquet` — Catalyst pushes filters/column pruning
  * into the scan; at cluster scale these would be partitioned table
  * paths and the same code holds.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A scratch-output directory: the system property `knob` when set,
    * else `target/<name>` under the working directory (`user.dir`),
    * so a copy of the repository never writes into another checkout.
    */
  def scratchDir(knob: String, name: String): String =
    sys.props.getOrElse(knob,
      java.nio.file.Paths.get(sys.props("user.dir"), "target", name)
        .toString)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** Normalize `events.ts` to session-TZ TimestampType whatever the
    * fixture generation wrote:
    *  - TIMESTAMP(NANOS): Spark 4 refuses it (PARQUET_TYPE_ILLEGAL);
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` (set by every
    *    session builder here) it arrives as a ns-epoch Long → *integer*
    *    division to µs (`ts div 1000`; double division would lose
    *    precision at 1.7e18 ns magnitudes).
    *  - TIMESTAMP(MICROS, no tz): arrives as TIMESTAMP_NTZ, which bans
    *    numeric casts — cast to TimestampType (session tz is UTC
    *    project-wide, so the wall clock maps to the same epoch DuckDB
    *    computes with `epoch(ts)`).
    */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
