package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated testdata star schema
  * (TESTDATA.md). In production these would be `spark.read.jdbc` /
  * Delta-table reads; the load path is isolated here so sources can be
  * swapped without touching operators.
  *
  * [[parquet]] is the program's one parquet reader (`ConfScopeSpec`
  * keeps it that way): a plain `spark.read.parquet` that memoizes the
  * inferred schema, so Catalyst's `ColumnPruning` +
  * `PushDownPredicates` still reach the scan (verify with `.explain`:
  * `PushedFilters`, `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    // events needs its nanos-timestamp workaround on EVERY path,
    // including generic by-name loads (e.g. the Bench warmup scan).
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** Schemas inferred by [[parquet]], keyed by [[schemaKey]]; access-
    * ordered and capped, since fresh temp dirs (stream sources, run-
    * private stores) each add a key that is never read again. */
  private val schemas =
    new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean = size > 256
    }

  /** `spark.read.parquet(path)` without the repeat schema inference.
    * A plain read runs a one-task footer job every time
    * (`ParquetUtils.inferSchema`); the sync cycle opened with 17 of
    * them in a row. The first read of a path infers as usual; a repeat
    * whose [[schemaKey]] matches reads with `.schema(inferred)` and
    * schedules no job. Only metadata is memoized: every call builds a
    * fresh scan, so pruning and pushdown are unchanged, and new files
    * are listed. A path the key cannot list (a glob, a missing path)
    * falls through to the plain read. The key costs one serial driver
    * listing of the tree on top of Spark's own, paid on every call: a
    * read of a directory that is new every run (a stream source, a
    * run-private store) gains nothing from the memo and pays it too.
    * On a 4-vCPU VM a miss costs 120 ms against a plain read's 105 ms
    * on a 200-file directory (a hit 41 ms), and 395 ms against 260 ms
    * on a 2000-file one (a hit 301 ms).
    */
  def parquet(s: SparkSession, path: String): DataFrame =
    schemaKey(s, path) match {
      case None => s.read.parquet(path)
      case Some(k) =>
        schemas.synchronized(Option(schemas.get(k))) match {
          case Some(st) => s.read.schema(st).parquet(path)
          case None =>
            val df = s.read.parquet(path)
            schemas.synchronized(schemas.put(k, df.schema))
            df
        }
    }

  /** What an inferred parquet schema depends on: the path, every file
    * under it (relative name, size, mtime — a rewrite or a new
    * partition changes it) and the session's parquet type-mapping and
    * partition-inference confs, `nanosAsLong` included. None when the
    * path cannot be listed as given.
    */
  private def schemaKey(s: SparkSession, path: String): Option[String] =
    scala.util.Try {
      val root = new Path(path)
      val prefix = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        .makeQualified(root).toString
      val listing = filesUnder(s, path).map(f =>
        s"${f.getPath.toString.stripPrefix(prefix)}" +
          s"|${f.getLen}|${f.getModificationTime}")
      val confs = s.conf.getAll.toSeq.filter { case (k, _) =>
        schemaConfs.exists(k.startsWith) }.sorted
      val md5 = java.security.MessageDigest.getInstance("MD5")
      (listing.sorted ++ confs.map { case (k, v) => s"$k=$v" })
        .foreach(l => md5.update((l + "\n").getBytes("UTF-8")))
      prefix + "#" + md5.digest().map("%02x".format(_)).mkString
    }.toOption

  /** Every file under `path` (the path itself if it is a file), walked
    * with plain `listStatus`. Not Hadoop's recursive `listFiles`: its
    * `LocatedFileStatus` copies each file's permissions, which the
    * local file system loads by forking a process per file (~4 ms
    * each; a 2000-file dir took 7 s). Throws if `path` is missing.
    */
  def filesUnder(s: SparkSession, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f.getPath) else Seq(f)
      }
    walk(root)
  }

  private val schemaConfs = Seq("spark.sql.parquet.",
    "spark.sql.legacy.parquet.", "spark.sql.caseSensitive",
    "spark.sql.sources.", "spark.sql.files.")

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
    parquet(s, path)
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
