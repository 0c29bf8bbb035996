package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated testdata star schema
  * (TESTDATA.md). In production these would be `spark.read.jdbc` /
  * Delta-table reads; the load path is isolated here so sources can be
  * swapped without touching operators.
  *
  * Scale note: parquet scans here are plain `spark.read.parquet` so
  * Catalyst's `ColumnPruning` + `PushDownPredicates` reach the scan
  * (verify with `.explain`: `PushedFilters`, `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    // events needs its nanos-timestamp workaround on EVERY path,
    // including generic by-name loads (e.g. the Bench warmup scan).
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")
  /** events.ts has shipped in two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) — which Spark's vectorized reader
    * rejects ([PARQUET_TYPE_ILLEGAL]) unless read as a plain long via
    * the legacy conf — and TIMESTAMP(MICROS, NTZ), which Spark reads
    * natively. The loader is format-aware: it sets the legacy conf
    * (harmless for micros files, required for nanos ones) and then
    * normalizes on the OBSERVED column type, so a testdata regeneration
    * in either format never silently breaks every events consumer.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(eventsRaw(s, s"$d/events.parquet"))

  /** Events-shaped parquet at `path` AS ENCODED (ts not normalized) —
    * the footer read every events reader goes through, batch or
    * stream. This is the one place the legacy nanos conf is set; it
    * stays set, so the streaming reader's later scans of the same
    * files (and of files re-written from this frame) read them too.
    */
  def eventsRaw(s: SparkSession, path: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(path)
  }

  /** Normalize the events timestamp column to a zoned TimestampType
    * (session TZ is pinned to UTC everywhere) regardless of how the
    * parquet file encoded it:
    *  - LongType     → nanos-as-long (legacy conf); integer-`div` by
    *                   1000, not `/`: 1.7e18 ns exceeds double's 2^53
    *                   exact-integer range.
    *  - TimestampNTZ → micros, timezone-naive; cast is wall-clock
    *                   identity under the UTC session TZ.
    *  - TimestampType→ already what downstream expects.
    * Used by the batch loader above and the streaming reader.
    */
  def normalizeEventTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Spread a frame across the session's shuffle width before a
    * CPU-heavy per-row stage (huge explodes, per-doc BPE, deletion
    * neighborhoods). The testdata tables arrive as ONE parquet row
    * group, so without this the expensive map runs in a single task
    * regardless of core count — measured on q189 (10M-trigram explode,
    * 3.0 → 1.4 s) and q271 (×16 digest fan-out, 6.3 → 2.1 s). Use
    * TARGETED, not blanket: for consumers whose map stage is cheap the
    * extra exchange is pure cost (a blanket documents() repartition
    * benched NET-NEGATIVE: q96/q242 pay a second shuffle for nothing).
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(scala.util.Try(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt)
      .toOption.filter(_ > 0).getOrElse(32))
}
